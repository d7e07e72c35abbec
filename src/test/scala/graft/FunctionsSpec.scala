package graft

import org.apache.spark.sql.functions._

import graft.functions.{SimOps, TextOps}

/** Unit specs for the training-data operators: text analysis, dedup/similarity
  * signatures (column and relational forms agree). */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different words appear in this document here"),
    (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
  ).toDF("doc_id", "text")

  test("tokenCount ignores repeated whitespace") {
    val r = Seq("a  b   c", "", "  ", "one").toDF("text")
      .select(TextOps.tokenCount(col("text")).as("n")).collect().map(_.getInt(0))
    assert(r.toSeq === Seq(3, 0, 0, 1))
  }

  test("subword delimiter class is dialect-portable: char sweep + no shorthands") {
    // Guard 1: the pattern must contain ONLY portable primitives — hex escapes,
    // literal ranges, simple escapes. Any dialect shorthand (\s, \d, \w, \p{..},
    // POSIX [:class:]) diverges between Java regex (Spark) and RE2 (DuckDB) on
    // edge characters; round 2's q_subword hash failure was exactly Java-\s
    // matching U+000B where RE2-\s does not.
    val cls = TextOps.subwordDelimClass
    for (bad <- Seq("\\s", "\\S", "\\d", "\\D", "\\w", "\\W", "\\p{", "\\P{", "[:"))
      assert(!cls.contains(bad), s"shorthand '$bad' must not appear in $cls")
    // Guard 2: the Java-regex semantics of the class equal the enumerated
    // pure-Scala predicate, swept over the full Latin/control range plus the
    // tricky characters that expose dialect divergence: U+000B vertical tab,
    // NBSP, unicode spaces (U+2000..U+200A, U+2028/9, U+3000), CJK punctuation
    // (U+3002 。, U+FF0C ，, U+FF1F ？) — all must be NON-delimiters (ASCII-only
    // class), and the ASCII delimiters must all match.
    val one = java.util.regex.Pattern.compile(cls.stripSuffix("+"))
    val sweep = (0x00 to 0x2FF).map(_.toChar) ++
      Seq('\u00A0', '\u1680', '\u2028', '\u2029', '\u3000', '\u3002', '\uFF0C', '\uFF1F') ++
      (0x2000 to 0x200A).map(_.toChar)
    sweep.foreach { c =>
      assert(one.matcher(c.toString).matches() === TextOps.isSubwordDelim(c),
        f"char U+${c.toInt}%04X: regex and enumerated predicate disagree")
    }
    // Guard 3: Spark's split over the class agrees with a pure-Scala reference
    // tokenizer on strings built from the tricky characters.
    def refCount(s: String): Long = {
      val words = s.split("").foldLeft(List("")) { (acc, ch) =>
        if (ch.nonEmpty && TextOps.isSubwordDelim(ch.head)) "" :: acc
        else (acc.head + ch) :: acc.tail
      }.reverse.filter(_.nonEmpty)
      words.map(w => math.ceil(w.length / 4.0).toLong).sum
    }
    val tricky = Seq(
      "plain words only here",
      "tab\tand\u000Bvertical\ftabs\rmixed",
      "nbsp\u00A0is not\u00A0a delimiter",
      "cjk句子。带标点，测试？结束",
      "digits123split456words",
      "punct!mix@of#every$kind%left&right",
      "", "   ", "\u000B\u000B", "a\u000Bb")
    val got = tricky.toDF("text")
      .select(TextOps.subwordCount(col("text")).cast("long")).collect().map(_.getLong(0))
    assert(got.toSeq === tricky.map(refCount),
      s"spark split disagrees with reference tokenizer on ${tricky.zip(got)}")
  }

  test("occurrences counts non-overlapping literal matches") {
    val r = Seq("ababab", "xxx", "aba").toDF("t")
      .select(TextOps.occurrences(col("t"), "ab").as("n")).collect().map(_.getLong(0))
    assert(r.toSeq === Seq(3L, 0L, 1L))
  }

  test("redactPii scrubs emails, IPv4, and phone runs in stage order") {
    def red(s: String): String =
      Seq(s).toDF("t").select(TextOps.redactPii(col("t"))).collect().head.getString(0)
    assert(red("mail bob.smith+x@corp.example.org now") === "mail <EMAIL> now")
    assert(red("host 192.168.1.100 up") === "host <IP> up")
    assert(red("call +1 (555) 012-2233 today") === "call <PHONE> today")
    // 999 is not an IPv4 octet: the word boundary stops a partial-octet match
    assert(red("v 999.1.1.1 x") === "v 999.1.1.1 x")
    // stage order: the digit run inside the email's local part belongs to the
    // email match — phone must not half-eat it before the email stage
    assert(red("user12345678@ex.com") === "<EMAIL>")
    // counts are taken at the stage each pattern replaces at
    val (ne, ni, np) = TextOps.piiCounts(col("t"))
    val r = Seq("a@b.co and 1.2.3.4 and 555 0122 334")
      .toDF("t").select(ne, ni, np).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1L, 1L, 1L)))
  }

  test("langId picks the language with the most marker words") {
    val r = Seq("the cat and the dog of war", "der hund und das der und")
      .toDF("text").select(TextOps.langId(col("text"))).collect().map(_.getString(0))
    assert(r.toSeq === Seq("en", "de"))
  }

  test("rollingFingerprint is order-sensitive; md5 fingerprint equals exact dups") {
    val r = docs.select(col("doc_id"), TextOps.rollingFingerprint(col("text")).as("rfp"),
      TextOps.fingerprintMd5(col("text")).as("md5")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2))).sortBy(_._1)
    assert(r(0)._2 === r(3)._2 && r(0)._3 === r(3)._3) // dup docs agree
    assert(r(0)._2 !== r(1)._2) // one word differs → different fingerprint
  }

  test("wordShingles + jaccard: near-dups high, unrelated low") {
    val sh = docs.select(col("doc_id"), SimOps.wordShingles(col("text"), 2).as("sh"))
    val j = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        SimOps.jaccard(col("a.sh"), col("b.sh")).as("j"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 4L)) === 1.0)
    assert(j((1L, 2L)) > 0.5)
    assert(j((1L, 3L)) === 0.0)
  }

  test("relational minhash signatures: dups identical, near-dups mostly agree") {
    val sh = docs.select(col("doc_id"), SimOps.wordShingles(col("text"), 2).as("sh"))
    val sigs = SimOps.minhashSignaturesFromRows(
        sh.select(col("doc_id"), explode(col("sh")).as("_sh")), "doc_id", 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(4L))
    val agree12 = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(agree12 > agree13)
    assert(agree13 === 0)
  }

  test("simhash: exact dups equal, near-dups close in hamming, unrelated far") {
    val s = SimOps.simhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(s(1L) === s(4L))
    assert(ham(s(1L), s(2L)) < ham(s(1L), s(3L)))
  }

  test("hyperplane LSH buckets exact dups together") {
    val e = Seq((1L, Seq(1.0f, 0.5f, -0.2f)), (2L, Seq(1.0f, 0.5f, -0.2f)),
      (3L, Seq(-1.0f, -0.5f, 0.9f))).toDF("vec_id", "embedding")
    val b = e.select(col("vec_id"), SimOps.hyperplaneBucket(col("embedding"), 8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(1L) === b(2L))
    assert(b(1L) !== b(3L)) // exactly opposite vector flips every plane sign
  }

  test("SimhashText kernel == relational explode/64-bit-sum derivation") {
    import graft.functions.PortableHash.{md5Hi32, md5Lo32}
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick  brown\tfox  "), // double spaces, tab inside a token
      (3L, " leading and trailing "),
      (4L, "单 字 unicode 混合 tokens"),
      (5L, "x"),
      (6L, "      "), // spaces only: must yield NO row
      (7L, "")        // empty: must yield NO row
    ).toDF("doc_id", "text")
    // the pre-round-6 relational pipeline, inlined verbatim
    val exploded = corpus
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), t => length(t) > 0)).as("_t"))
      .withColumn("_hi", md5Hi32(col("_t")))
      .withColumn("_lo", md5Lo32(col("_t")))
    def bit(b: Int) =
      if (b < 32) shiftright(col("_lo"), b).bitwiseAND(1L)
      else shiftright(col("_hi"), b - 32).bitwiseAND(1L)
    val aggs = (0 until 64).map(b =>
      sum(when(bit(b) === 1L, 1).otherwise(-1)).as(s"_b$b"))
    val relational = exploded.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b =>
          when(col(s"_b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernel = SimOps.simhashSignatures(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel === relational)
    assert(!kernel.contains(6L) && !kernel.contains(7L))
  }

  test("HyperplaneBucket kernel == relational explode/coef-join/sum derivation") {
    // a deterministic corpus with edge cases: negatives, exact zeros, a
    // SHORT vector (missing dims must contribute 0), a zero vector
    val rnd = new scala.util.Random(42)
    val vecs = ((1L to 40L).map { i =>
      (i, Seq.fill(7)((rnd.nextFloat() - 0.5f) * 4f))
    } :+ (98L, Seq(0f, 0f, 0f, 0f, 0f, 0f, 0f)) :+ (99L, Seq(1.5f, -2.5f)))
      .toDF("vec_id", "embedding")
    val planes = 8
    // the pre-round-6 relational pipeline, inlined verbatim
    val exploded = vecs.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").as("_d"),
        floor(col("col").cast("double") * 1000).cast("long").as("_xi"))
    val coefs = spark.range(7).select(col("id").cast("int").as("_d"))
      .select(col("_d") +: (0 until planes).map(p =>
        (graft.functions.PortableHash.md5Long(
          concat(lit(p.toString), lit(","), col("_d").cast("string")))
          % 2000L - 1000L).as(s"_c$p")): _*)
    val dotAggs = (0 until planes).map(p =>
      sum(col("_xi") * col(s"_c$p")).as(s"_dot$p"))
    val relational = exploded.join(coefs, "_d")
      .groupBy("vec_id").agg(dotAggs.head, dotAggs.tail: _*)
      .select(col("vec_id"),
        (0 until planes).map(p =>
          when(col(s"_dot$p") > 0, lit(1L << p)).otherwise(lit(0L)))
          .reduce(_ + _).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernel = vecs.filter(size(col("embedding")) > 0)
      .select(col("vec_id"), SimOps.hyperplaneBucket(col("embedding"), planes))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel === relational)
    // the kernel's Scala coef twin == the Column md5 derivation it replaced
    val sparkCoefs = coefs.collect().flatMap(r =>
      (0 until planes).map(p => (p, r.getInt(0)) -> r.getLong(1 + p))).toMap
    sparkCoefs.foreach { case ((p, d), v) =>
      assert(SimOps.planeCoef(p, d) === v, s"planeCoef($p,$d)")
    }
  }

  test("portable md5 hashes match the oracle engine's derivation (fixed vectors)") {
    // expected values computed with DuckDB 1.0:
    //   CAST(concat('0x', substr(md5(s), 1, 15|1,8|9,8)) AS BIGINT)
    val expect = Map(
      "hello world" -> (426544247714475757L, 1589001147L, 3760123600L),
      "a" -> (57446577476672362L, 214005177L, 3237066408L),
      "" -> (955282973525019424L, 3558706393L, 2399187460L),
      "der und das 的" -> (30695633445487869L, 114350145L, 2059947995L))
    val rows = expect.keys.toSeq.toDF("s")
      .select(col("s"), graft.functions.PortableHash.md5Long(col("s")).as("h"),
        graft.functions.PortableHash.md5Hi32(col("s")).as("hi"),
        graft.functions.PortableHash.md5Lo32(col("s")).as("lo"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    expect.foreach { case (s, v) => assert(rows(s) === v, s"hash of '$s'") }
  }

  test("neardup pipeline: candidates → verify → keep-min-id drops the exact dup only") {
    val pairs = SimOps.neardupPairs(docs, "doc_id", "text", shingleN = 2)
    val byPair = pairs.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(byPair((1L, 4L)) === 1.0) // exact dup pair found and verified
    val dropped = pairs.filter(col("jaccard") >= 0.5)
      .select(col("right_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(dropped.contains(4L) && !dropped.contains(1L)) // min-id survives
  }

  test("connected components: transitive chains collapse to one group per component") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),       // chain: one component
        (10L, 11L),                                     // isolated pair
        (20L, 21L), (21L, 22L), (20L, 22L))             // triangle
      .toDF("left_id", "right_id")
    val got = SimOps.connectedComponents(pairs, "left_id", "right_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // a 30-hop chain cannot finish min-propagation in 2 rounds — the operator
    // escalates to large-star/small-star and still produces correct groups
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("left_id", "right_id")
    val viaFallback = SimOps.connectedComponents(chain, "left_id", "right_id",
        maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFallback === (1L to 30L).map(_ -> 1L).toMap)
    // and the star algorithm invoked directly agrees
    val viaStar = SimOps.connectedComponentsStar(chain, "left_id", "right_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar === viaFallback)
  }

  test("connected components fails loudly on a null label instead of a silent null group") {
    import spark.implicits._
    // a (null, null) pair seeds a null label: _new < _lbl is null, so the
    // node would count as unchanged and come out as a (null, null) row
    val pairs = Seq((Some(1L), Some(2L)), (None, None))
      .toDF("left_id", "right_id")
    val e = intercept[IllegalStateException](
      SimOps.connectedComponents(pairs, "left_id", "right_id").collect())
    assert(e.getMessage.contains("null label"), e.getMessage)
  }

  test("components fixpoint checks are cheap: convergence signals ride the per-round action") {
    import spark.implicits._
    // count SQL EXECUTIONS (actions) during a propagate-loop run. The
    // changed-count rides the materialization action via observe(), so
    // each round must cost ONE action (the localCheckpoint), not two
    // (checkpoint + count)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("left_id", "right_id")
    // warm up once (codegen, shuffles) so the counted run is steady-state
    SimOps.connectedComponents(pairs, "left_id", "right_id").collect()
    val (_, n) = sqlExecutions(
      SimOps.connectedComponents(pairs, "left_id", "right_id").collect())
    // this graph converges in 2 propagate rounds + 1 no-change round: with
    // the per-round count() this cost 9 actions (2 setup checkpoints +
    // 3 × (checkpoint + count) + collect); with the observe()-folded
    // signal it is 6 — allow 7 for one stray fallback scan
    assert(n <= 7, s"propagate loop spent $n actions — the changed-count " +
      "signal is paying extra actions per round again")
  }

  test("components escalation keeps the min-label rounds: star starts from their labels") {
    import spark.implicits._
    // a 30-node chain does not converge in 25 min-label rounds (its diameter
    // is 29). Escalation seeds large-star/small-star with the propagated
    // labels, which already reach 26 hops: star needs 2 rounds, where
    // restarting it from the raw chain needed 6 (34 actions against 38)
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("left_id", "right_id")
    val (got, n) = sqlExecutions(
      SimOps.connectedComponents(chain, "left_id", "right_id", maxIter = 25)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(got === (1L to 30L).map(_ -> 1L).toMap)
    // 2 setup checkpoints + 25 rounds + collect = 28 outside star; star pays
    // 2 setup actions, one per round and 2 exact convergence checks. The
    // bound leaves room for 3 fallback scans of a withheld observation
    assert(n <= 37, s"escalated components spent $n actions — star restarted " +
      "from the raw pairs instead of the propagated labels")
  }

  test("building the ANN operators with explicit planes starts no SQL execution") {
    import spark.implicits._
    val e = Seq((1L, Seq(1.0f, 0.5f, -0.2f)), (2L, Seq(1.0f, 0.5f, -0.2f)),
      (3L, Seq(-1.0f, -0.5f, 0.9f))).toDF("vec_id", "embedding")
    val ((top, pairs), n) = sqlExecutions((
      SimOps.annTopK(e, "vec_id", "embedding", planes = 8, k = 2),
      SimOps.cosineNeardupPairs(e, "vec_id", "embedding", planes = 8)))
    assert(n === 0, s"building the ANN frames ran $n SQL executions")
    assert(top.filter(col("rank") === 1).count() === 2L)
    assert(pairs.select("left_id", "right_id").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
  }

  test("incremental exact dedup flags batch docs whose fingerprint is already ingested") {
    // the q_dedup_incr shape with a corpus that HAS a cross-boundary dup
    // (the driver corpus has none at gate SF — the true-positive path lives here)
    val ingested = Seq((1L, "already seen text"), (2L, "other ingested text"))
      .toDF("doc_id", "text")
      .select(md5(col("text").cast("binary")).as("fp"), lit(true).as("_hit")).distinct()
    val batch = Seq((10L, "already seen text"), (20L, "brand new text"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    val out = batch.join(ingested, Seq("fp"), "left_outer")
      .select(col("doc_id"), coalesce(col("_hit"), lit(false)).as("already_ingested"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out === Map(10L -> true, 20L -> false))
  }

  test("fingerprint dedup groups exactly like text dedup (collision check)") {
    val d = docs // includes an exact dup pair (1, 4)
    val byText = d.groupBy("text").agg(min("doc_id").as("k"), count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val byFp = d.groupBy(md5(col("text").cast("binary"))).agg(
        min("doc_id").as("k"), count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(byText === byFp) // same groups ⇒ no collision, dup collapsed
    assert(byFp.contains((1L, 2L))) // docs 1+4 share a fingerprint, min id kept
  }

  test("LSH completeness: every high-jaccard pair (j≥0.9) is caught and verified") {
    // 3 clusters of 4 docs each, differing by one trailing word out of ~40
    // tokens (pairwise shingle jaccard ≥ ~0.9), plus unrelated fillers.
    // With 8 bands × 4 rows, P(miss | j=0.9) = (1-0.9^4)^8 ≈ 2e-4 per pair —
    // a miss here means the banding is broken, not unlucky.
    val base = Map(
      0 -> (1 to 40).map(i => s"alpha$i").mkString(" "),
      1 -> (1 to 40).map(i => s"beta$i").mkString(" "),
      2 -> (1 to 40).map(i => s"gamma$i").mkString(" "))
    val cluster = for (c <- 0 until 3; v <- 0 until 4)
      yield (c * 10L + v, s"${base(c)} tail$v")
    val filler = (100L until 110L).map(i => i -> (1 to 40).map(j => s"f${i}w$j").mkString(" "))
    val d = (cluster ++ filler).toDF("doc_id", "text")
    val pairs = SimOps.neardupPairs(d, "doc_id", "text", shingleN = 3)
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (c <- 0 until 3; a <- 0 until 4; b <- (a + 1) until 4)
      assert(pairs.contains((c * 10L + a, c * 10L + b)),
        s"missing intra-cluster pair ($c: $a,$b); got $pairs")
    // no cross-cluster or filler pair sneaks past verification
    assert(pairs.forall { case (l, r) => l / 10 == r / 10 && l < 100 })
    // keep-min-id survivors: exactly the three cluster minima + all fillers
    val dropped = pairs.map(_._2)
    val survivors = (cluster ++ filler).map(_._1).toSet -- dropped
    assert(survivors === Set(0L, 10L, 20L) ++ (100L until 110L))
  }

  test("annTopK: exact dup is every query's rank-1 neighbor with cosine 1") {
    val e = Seq(
      (1L, Seq(1.0f, 0.5f, -0.2f, 0.1f)), (2L, Seq(1.0f, 0.5f, -0.2f, 0.1f)),
      (3L, Seq(-1.0f, -0.5f, 0.9f, 0.0f)), (4L, Seq(0.9f, 0.6f, -0.1f, 0.2f))
    ).toDF("vec_id", "embedding")
    val top = SimOps.annTopK(e, "vec_id", "embedding", planes = 8, k = 2)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(top(1L)._1 === 2L && math.abs(top(1L)._2 - 1.0) < 1e-9)
    assert(top(2L)._1 === 1L)
  }

  test("ivfTopK: exact dup is rank-1 with cosine 1; assignment is deterministic") {
    val e = Seq(
      (1L, Seq(1.0f, 0.5f, -0.2f, 0.1f)), (2L, Seq(1.0f, 0.5f, -0.2f, 0.1f)),
      (3L, Seq(-1.0f, -0.5f, 0.9f, 0.0f)), (4L, Seq(0.9f, 0.6f, -0.1f, 0.2f))
    ).toDF("vec_id", "embedding")
    val top = SimOps.ivfTopK(e, "vec_id", "embedding", c = 4, nProbe = 2, k = 2)
      .filter(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(top(1L)._1 === 2L && math.abs(top(1L)._2 - 1.0) < 1e-9)
    assert(top(2L)._1 === 1L)
    // deterministic across partitionings (rounded-cosine + id tie-breaks)
    val again = SimOps.ivfTopK(e.repartition(3), "vec_id", "embedding",
      c = 4, nProbe = 2, k = 2).collect().map(_.toString).sorted.toSeq
    val first = SimOps.ivfTopK(e, "vec_id", "embedding",
      c = 4, nProbe = 2, k = 2).collect().map(_.toString).sorted.toSeq
    assert(again === first)
  }

  test("ANN multi-probe: recall rises with probe radius and beats random scanning") {
    // The driver corpus's embeddings are near-isotropic (brute-force NN cosine
    // ≈ 0.37, NN label agreement ≈ chance), so no sublinear probe scheme can
    // reach ~100% recall — the honest property is that the LSH probe BEATS a
    // random scan of the same fraction of the index, and that the radius knob
    // trades cost for recall monotonically.
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val e2 = emb.select(col("vec_id").as("nn_id"), col("embedding").as("e2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cos").desc, col("nn_id"))
    val bruteTop = emb.crossJoin(e2).filter(col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"),
        round(SimOps.cosine(col("embedding"), col("e2")), 6).as("cos"))
      .withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("vec_id"), col("nn_id").as("bf_nn")).localCheckpoint()
    val n = bruteTop.count().toDouble
    val recalls = Seq(0, 1, 2).map { radius =>
      val ann = SimOps.annTopK(emb, "vec_id", "embedding", planes = 8, k = 1,
        radius = radius).select(col("vec_id"), col("nn_id").as("ann_nn"))
      bruteTop.join(ann, Seq("vec_id")).filter(col("ann_nn") === col("bf_nn"))
        .count() / n
    }
    assert(recalls(0) <= recalls(1) && recalls(1) <= recalls(2),
      s"recall must rise with radius: $recalls")
    // radius 2 probes (1+8+28)/256 ≈ 14.5% of buckets; random scanning of the
    // same fraction would find the NN ~14.5% of the time — require ≥ 2×
    assert(recalls(2) >= 0.29, s"radius-2 recall ${recalls(2)} must beat 2× random scan")
  }

  test("embedding-LSH bucket cap bounds candidates on a degenerate corpus") {
    // 60 IDENTICAL vectors: every one lands in the same hyperplane bucket, so
    // without the cap the probe join is quadratic on that key (60·59/2 pairs).
    // With maxBucket=10 the degenerate bucket is dropped from the index side
    // and produces ZERO candidates — the uncapped corpus would OOM one reducer
    // at 10⁹ vectors.
    val degenerate = (0L until 60L).map(i => (i, Seq(1.0f, 0.5f, -0.2f, 0.1f)))
      .toDF("vec_id", "embedding")
    assert(SimOps.cosineNeardupPairs(degenerate, "vec_id", "embedding",
      planes = 8, radius = 1, maxBucket = 10).count() === 0L)
    assert(SimOps.annTopK(degenerate, "vec_id", "embedding",
      planes = 8, k = 3, radius = 1, maxBucket = 10).count() === 0L)
    // with the cap above the bucket size, all pairs come back (cos = 1)
    val pairs = SimOps.cosineNeardupPairs(degenerate, "vec_id", "embedding",
      planes = 8, radius = 1, maxBucket = 100)
    assert(pairs.count() === 60L * 59 / 2)
    // and a mixed corpus: the degenerate cluster is capped away, the small
    // healthy cluster still pairs up
    val mixed = degenerate.unionByName(
      Seq((100L, Seq(-1.0f, -0.5f, 0.9f, 0.3f)), (101L, Seq(-1.0f, -0.5f, 0.9f, 0.3f)))
        .toDF("vec_id", "embedding"))
    val got = SimOps.cosineNeardupPairs(mixed, "vec_id", "embedding",
      planes = 8, radius = 1, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((100L, 101L)))
  }

  test("materialization strategy (localCheckpoint vs persist) never changes results") {
    // the fault-tolerance knob must be semantics-free: identical near-dup
    // pairs under both strategies (cluster deployments set persist)
    def run(): Set[(Long, Long, Double)] =
      SimOps.neardupPairs(docs, "doc_id", "text", shingleN = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dflt = run()
    spark.conf.set("spark.graft.sim.materialize", "persist")
    try {
      spark.catalog.clearCache()
      assert(run() === dflt)
    } finally {
      spark.conf.unset("spark.graft.sim.materialize")
      spark.catalog.clearCache()
    }
    assert(dflt.nonEmpty)
  }

  test("planesFor grows the bucket space with the corpus") {
    assert(SimOps.planesFor(1000) === 8)            // floor: 256 buckets minimum
    assert(SimOps.planesFor(1000000) === 14)        // 1M/64 ≈ 2^14
    assert(SimOps.planesFor(1000000000L) === 24)    // clamped ceiling
    val seq = Seq(1L, 1000L, 100000L, 10000000L, 1000000000L).map(SimOps.planesFor(_))
    assert(seq === seq.sorted, s"planesFor must be monotone: $seq")
  }

  test("FloatVecDot (native codegen expression) is bit-identical to the HOF fold") {
    import graft.functions.FloatVecDot
    val rnd = new scala.util.Random(42)
    val vecs = (0 until 200).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() - 0.5f), Seq.fill(64)(rnd.nextFloat() - 0.5f)))
      .toDF("id", "a", "b")
    val hofDot = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (s, v) => s + v)
    val diff = vecs.select(FloatVecDot.dot(col("a"), col("b")).as("fast"), hofDot.as("hof"))
      .filter(col("fast") =!= col("hof")).count() // exact ==, not a tolerance
    assert(diff === 0L)
    // and the expression stays inside a whole-stage-codegen span (repartition
    // forces a real Project stage; execute first so AQE finalizes the plan and
    // prints its codegen markers)
    val df = vecs.repartition(2).select(FloatVecDot.dot(col("a"), col("b")))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(") && plan.contains("float_vec_dot"),
      s"expected float_vec_dot inside a codegen span:\n$plan")
  }

  test("cosine similarity: identical=1, orthogonal=0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(SimOps.cosine(col("a"), col("b")).as("ab"),
      SimOps.cosine(col("a"), col("c")).as("ac")).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("split assignment: content-keyed, deterministic, ~90/5/5") {
    // ids 0-999 and 1000-1999 carry IDENTICAL contents — the content-keyed
    // split must route each duplicate pair to the same split
    val corpus = (0 until 2000).map(i => (i.toLong, s"document body number ${i % 1000}"))
      .toDF("doc_id", "text")
    val assigned = corpus
      .withColumn("bucket", TextOps.splitBucket(col("text")))
      .withColumn("split", TextOps.splitName(col("bucket")))
    val perText = assigned.groupBy("text")
      .agg(countDistinct("split").as("n")).filter(col("n") =!= 1).count()
    assert(perText === 0, "identical contents split-routed differently")
    val counts = assigned.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    assert(counts("train") / total > 0.85 && counts("train") / total < 0.95,
      s"train share off 90%: $counts")
    assert(counts.getOrElse("val", 0L) > 0 && counts.getOrElse("test", 0L) > 0)
    // buckets span [0, 100) — pmod, not %, so no negative buckets — and the
    // assignment is partitioning-invariant
    val mm = assigned.agg(min("bucket"), max("bucket")).collect()(0)
    assert(mm.getLong(0) >= 0 && mm.getLong(1) < 100)
    val again = corpus.repartition(7)
      .withColumn("bucket", TextOps.splitBucket(col("text")))
      .withColumn("split", TextOps.splitName(col("bucket")))
    assert(assigned.orderBy("doc_id").collect().toSeq ===
      again.orderBy("doc_id").collect().toSeq)
  }

  test("contamination counts: exact distinct-gram overlaps, duplicates counted once") {
    val corpus = Seq(
      (1L, "a b c d"),        // 3-grams: "a b c", "b c d" — one overlaps
      (2L, "x y z w"),        // no overlap → absent from output
      (3L, "b c d b c d"),    // grams {b c d, c d b, d b c} — overlap still 1
      (4L, "e f g h")         // 3-grams: "e f g", "f g h" — both overlap
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "b c d e f g h")).toDF("doc_id", "text")
    val out = SimOps.contaminationCounts(corpus, bench, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq === Seq((1L, 1L), (3L, 1L), (4L, 2L)))
    // a disjoint benchmark yields an empty report, not zero-rows-per-doc
    val none = SimOps.contaminationCounts(corpus,
      Seq((200L, "totally unrelated tokens only")).toDF("doc_id", "text"),
      "doc_id", "text", n = 3)
    assert(none.count() === 0)
  }
}
