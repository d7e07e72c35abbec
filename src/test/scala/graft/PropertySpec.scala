package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{CdcMerge, Dedup}
import graft.sources.LakeTable

/** Property tests (SURVEY.md §5): LWW well-definedness and merge invariances over
  * ScalaCheck-generated event sets (raw Gen sampling — scalatestplus is not in the
  * offline cache). Cases are seeded → fully deterministic.
  *  - dedup(events) == oracle reduction, for any event set
  *  - permuting intra-batch event order never changes the final state
  *  - any 2-way split of a batch applied as two epochs == one epoch
  *  - re-applying any batch (duplicate delivery) is a no-op
  */
class PropertySpec extends SparkSpec {

  private val eventGen: Gen[List[(String, Int, String, String, String, Long)]] =
    for {
      n <- Gen.choose(1, 120)
      rows <- Gen.listOfN(n, for {
        conv <- Gen.choose(0, 6).map(i => s"c$i")
        turn <- Gen.choose(0, 4)
        role <- Gen.oneOf("user", "assistant", "tool")
        text <- Gen.alphaStr.map(_.take(12))
        op <- Gen.frequency(5 -> "I", 3 -> "U", 2 -> "D")
      } yield (conv, turn, role, text, op, 0L))
    } yield rows.zipWithIndex.map { case ((c, t, r, x, o, _), i) =>
      (c, t, r, x, o, i.toLong) // unique, increasing LSNs
    }

  private def cases(n: Int): Seq[List[(String, Int, String, String, String, Long)]] =
    (1 to n).map(i => eventGen.apply(Gen.Parameters.default, Seed(1000L + i))
      .getOrElse(Nil)).filter(_.nonEmpty)

  private def toDf(rows: List[(String, Int, String, String, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.map { case (c, t, r, x, o, l) =>
      (c, t, r, x, null.asInstanceOf[String], new Timestamp(1700000000000L + l), o, l)
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "op", "lsn")
  }

  private def stateOf(dfs: Seq[DataFrame], name: String): Seq[Row] = {
    val t = LakeTable.create(spark, tmpDir(name), CdcMerge.physicalSchema(Schemas.transcript), 4)
    dfs.zipWithIndex.foreach { case (df, e) => CdcMerge.applyBatch(t, df, e.toLong, "p") }
    CdcMerge.state(t).orderBy("conv_id", "turn_idx").collect().toSeq
  }

  test("property: dedup equals the independent oracle reduction") {
    cases(6).foreach { rows =>
      val df = toDf(rows)
      val viaEngine = Dedup.lww(df).filter(org.apache.spark.sql.functions.col("op") =!= "D")
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
      assert(Oracle.diff(viaEngine, Oracle.expectedState(df)).isEmpty, s"case: $rows")
    }
  }

  test("property: intra-batch event order never affects the final state") {
    cases(3).zipWithIndex.foreach { case (rows, i) =>
      val rnd = new scala.util.Random(i)
      val a = stateOf(Seq(toDf(rows)), s"perm-a$i")
      val b = stateOf(Seq(toDf(rnd.shuffle(rows))), s"perm-b$i")
      assert(a === b, s"case $i")
    }
  }

  test("property: any 2-way batch split applied as two epochs equals one epoch") {
    cases(3).zipWithIndex.foreach { case (rows, i) =>
      val rnd = new scala.util.Random(100 + i)
      // split at an arbitrary position of a shuffle — NOT by lsn — so the two
      // epochs interleave LSNs (the hostile ordering for cross-batch LWW)
      val (x, y) = rnd.shuffle(rows).splitAt(rnd.nextInt(rows.size + 1))
      val whole = stateOf(Seq(toDf(rows)), s"split-w$i")
      val split = stateOf(Seq(toDf(x), toDf(y)), s"split-s$i")
      assert(whole === split, s"case $i cut=${x.size}")
    }
  }

  test("property: duplicate delivery of any batch is a no-op") {
    cases(3).zipWithIndex.foreach { case (rows, i) =>
      val once = stateOf(Seq(toDf(rows)), s"dup-a$i")
      val twice = stateOf(Seq(toDf(rows), toDf(rows)), s"dup-b$i")
      assert(once === twice, s"case $i")
    }
  }

  // ── similarity-family properties ────────────────────────────────────────────

  private val docGen: Gen[List[(Long, String)]] =
    for {
      n <- Gen.choose(8, 16)
      texts <- Gen.listOfN(n, for {
        len <- Gen.choose(8, 18)
        ws <- Gen.listOfN(len, Gen.choose(0, 25).map(i => s"w$i"))
      } yield ws.mkString(" "))
    } yield {
      val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // exact dup + one-word mutation force non-vacuous near-dup structure
      base ++ List((100L, base.head._2), (101L, base.head._2 + " wX"))
    }

  private def docCases(n: Int): Seq[List[(Long, String)]] =
    (1 to n).map(i => docGen.apply(Gen.Parameters.default, Seed(7000L + i))
      .getOrElse(Nil)).filter(_.nonEmpty)

  test("property: connected components equal a union-find oracle on random graphs") {
    import spark.implicits._
    import graft.functions.SimOps
    val edgeGen: Gen[List[(Long, Long)]] = for {
      nodes <- Gen.choose(2, 40)
      m <- Gen.choose(1, 60)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0, nodes - 1); b <- Gen.choose(0, nodes - 1)
      } yield (a.toLong, b.toLong))
    } yield edges.filter { case (a, b) => a != b }
    (1 to 6).foreach { i =>
      val edges = edgeGen.apply(Gen.Parameters.default, Seed(7000L + i))
        .getOrElse(Nil)
      if (edges.nonEmpty) {
        // union-find oracle (path compression, plain Scala)
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
        }
        val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        val expected = {
          val byRoot = nodes.groupBy(find)
          byRoot.values.flatMap(ns => { val m = ns.min; ns.map(_ -> m) }).toMap
        }
        val got = SimOps.connectedComponents(
            edges.toDF("left_id", "right_id"), "left_id", "right_id",
            maxIter = 60) // random graphs can draw long chains; bound ≥ diameter
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === expected, s"case $i edges=$edges")
        // the O(log n) large-star/small-star variant must agree on every graph
        val gotStar = SimOps.connectedComponentsStar(
            edges.toDF("left_id", "right_id"), "left_id", "right_id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gotStar === expected, s"star case $i edges=$edges")
      }
    }
  }

  test("property: LSH-verified jaccard equals brute-force jaccard on every emitted pair") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.SimOps
    docCases(3).zipWithIndex.foreach { case (docs, i) =>
      val df = docs.toDF("doc_id", "text")
      val got = SimOps.neardupPairs(df, "doc_id", "text", shingleN = 2).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(got.nonEmpty, s"case $i produced no candidates (dup pair must collide)")
      val sh = df.select(col("doc_id"), SimOps.wordShingles(col("text"), 2).as("sh"))
      val brute = sh.as("a").crossJoin(sh.as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"),
          SimOps.jaccard(col("a.sh"), col("b.sh")).as("j"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      got.foreach { case (pair, j) =>
        assert(math.abs(j - brute(pair)) < 1e-12, s"case $i pair $pair: $j vs ${brute(pair)}")
      }
      // the exact-dup pair is always caught with jaccard exactly 1
      assert(got.get((0L, 100L)).contains(1.0), s"case $i: dup pair missing or wrong: $got")
    }
  }

  test("property: contamination counts equal the brute-force set intersection") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.SimOps
    docCases(3).zipWithIndex.foreach { case (docs, i) =>
      val df = docs.toDF("doc_id", "text")
      val corpus = df.filter(col("doc_id") % 2 === 0)
      val bench = df.filter(col("doc_id") % 2 =!= 0)
      val got = SimOps.contaminationCounts(corpus, bench, "doc_id", "text", n = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute force: |distinct corpus-doc 2-grams ∩ union of bench 2-grams|
      def grams(t: String): Set[String] = {
        val tk = t.split(" ").filter(_.nonEmpty).toSeq
        if (tk.isEmpty) Set.empty
        else (0 to math.max(tk.size - 2, 0)).map(j => tk.slice(j, j + 2).mkString(" ")).toSet
      }
      val benchSet = docs.filter(_._1 % 2 != 0).flatMap(d => grams(d._2)).toSet
      val brute = docs.filter(_._1 % 2 == 0)
        .map { case (id, t) => id -> (grams(t) & benchSet).size.toLong }
        .filter(_._2 > 0).toMap
      assert(got === brute, s"case $i: engine=$got brute=$brute")
    }
  }

  test("property: simhash band blocking finds EXACTLY the pairs with hamming ≤ 3") {
    import spark.implicits._
    import graft.functions.SimOps
    docCases(3).zipWithIndex.foreach { case (docs, i) =>
      val df = docs.toDF("doc_id", "text")
      val sigsDf = SimOps.simhashSignatures(df, "doc_id", "text")
      val sigs = sigsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sortBy(_._1)
      val expected = (for {
        (a, sa) <- sigs; (b, sb) <- sigs if a < b
        h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
      } yield (a, b, h.toLong)).toSet
      val got = SimOps.simhashNeardupPairs(sigsDf, "doc_id", maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expected, s"case $i")
      assert(expected.exists(p => p._1 == 0L && p._2 == 100L && p._3 == 0L)) // non-vacuous
    }
  }
}
