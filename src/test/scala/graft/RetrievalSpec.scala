package graft

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Retrieval pair (bm25_search / ann_maxsim): exact in-JVM BigInt
  * recomputation of both scoring lattices on toy corpora (the
  * sample_weighted convention — the oracle at sf0.01 is the driver's
  * gate, these prove the formulas themselves), ranking semantics
  * (tf monotonicity, length penalty, late-interaction vs dilution),
  * and the shortlist plan shape (Spark's WindowGroupLimit).
  */
class RetrievalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()

  private def docsOf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---- exact reference implementations (plain Scala, BigInt) ----

  private def bm25Expected(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long, Long)] = {
    val words = docs.map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty).toSeq }.toMap
    val tf = collection.mutable.Map.empty[(String, Long), Long]
    for ((id, ws) <- words; w <- ws) tf((w, id)) = tf.getOrElse((w, id), 0L) + 1
    val dl = words.map { case (id, ws) => id -> ws.size.toLong }
    val df = tf.keys.groupBy(_._1).map { case (t, ks) => t -> ks.size.toLong }
    val n = docs.size.toLong
    val a = dl.values.sum
    val out = for {
      (qid, _) <- docs if qid % operators.Retrieval.QueryStride == 0 &&
        qid < operators.Retrieval.QueryStride.toLong * operators.Retrieval.MaxQueries
      qterms = words(qid).take(operators.Retrieval.QueryTermCount).distinct
      scored = docs.flatMap { case (did, _) =>
        val matched = qterms.filter(t => tf.contains((t, did)))
        if (matched.isEmpty) None
        else {
          val s = matched.map { t =>
            val f = BigInt(tf((t, did))); val d = BigInt(df(t))
            ((BigInt(2) * n - 2 * d + 1) * 22 * a * f * 1000000) /
              ((2 * d + 1) * (BigInt(10) * a * f + BigInt(3) * a + BigInt(9) * dl(did) * n))
          }.sum
          Some((did, s.toLong, matched.size.toLong))
        }
      }
      ranked = scored.sortBy { case (did, s, _) => (-s, did) }
        .take(operators.Retrieval.Bm25TopK).zipWithIndex
      ((did, s, m), i) <- ranked
    } yield (qid, i + 1L, did, s, m)
    out.sortBy(r => (r._1, r._2))
  }

  /** EmbedKernel's md5 bucket/sign math, recomputed from the digest
    * bytes (not through the expression) — the equivalence anchor.
    */
  private def embed(ws: Seq[String]): (Array[Long], Long) = {
    val md = MessageDigest.getInstance("MD5")
    def hash60(s: String): Long = {
      val out = md.digest(s.getBytes("UTF-8"))
      var v = 0L
      for (i <- 0 until 7) v = (v << 8) | (out(i) & 0xffL)
      (v << 4) | ((out(7) >> 4) & 0xfL)
    }
    val vec = new Array[Long](operators.Curation.EmbedDim)
    for (w <- ws if w.nonEmpty) {
      val b = (hash60("emb:" + w) % operators.Curation.EmbedDim).toInt
      val s = if ((hash60("sgn:" + w) & 1L) == 0L) 1L else -1L
      vec(b) += s
    }
    (vec, vec.map(x => x * x).sum)
  }

  private def maxsimExpected(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long)] = {
    val cw = operators.Curation.ChunkWords
    val cs = operators.Curation.ChunkStride
    def chunks(t: String): Seq[(Array[Long], Long)] = {
      val ws = t.split(" ").toSeq // chunking slices the RAW word array
      if (ws.isEmpty || (ws.size == 1 && ws.head.isEmpty)) Seq.empty
      else (0 until ((ws.size + cs - 1) / cs)).map(i => embed(ws.slice(i * cs, i * cs + cw)))
    }
    val all = docs.map { case (id, t) => id -> chunks(t) }
    val qs = all.filter { case (id, _) => id % operators.Retrieval.MaxsimStride == 0 &&
      id < operators.Retrieval.MaxsimStride.toLong * operators.Retrieval.MaxQueries }
    val out = for {
      (qid, qcs) <- qs
      scored = all.filter(_._1 != qid).flatMap { case (did, dcs) =>
        if (qcs.isEmpty || dcs.isEmpty) None
        else Some((did, qcs.map { case (qv, qn2) =>
          dcs.map { case (dv, dn2) =>
            val dot = qv.zip(dv).map { case (x, y) => x * y }.sum
            if (dot > 0 && qn2 > 0 && dn2 > 0) dot * dot * 1000000L / (qn2 * dn2) else 0L
          }.max
        }.sum))
      }
      ranked = scored.sortBy { case (did, s) => (-s, did) }
        .take(operators.Retrieval.MaxsimTopK).zipWithIndex
      ((did, s), i) <- ranked
    } yield (qid, i + 1L, did, s)
    out.sortBy(r => (r._1, r._2))
  }

  // ---- bm25_search ----

  val bm25Toy: Seq[(Long, String)] = Seq(
    0L -> "apple banana cherry date egg",
    1L -> "apple apple apple banana fig grape",
    2L -> "apple fig grape hazel iris jungle kiwi lemon mango nectar orange peach",
    3L -> "banana banana cherry",
    4L -> "zebra yak xylophone")

  test("bm25: engine result equals the BigInt reference on a toy corpus") {
    val got = operators.Retrieval.bm25SearchOn(docsOf(bm25Toy)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == bm25Expected(bm25Toy), s"got: $got\nexpected: ${bm25Expected(bm25Toy)}")
  }

  test("bm25: tf raises the score, length depresses it, self ranks first") {
    val res = operators.Retrieval.bm25SearchOn(docsOf(bm25Toy)).collect()
      .map(r => r.getLong(2) -> r.getLong(3)).toMap
    // the query doc holds every query term once — top score
    val top = operators.Retrieval.bm25SearchOn(docsOf(bm25Toy)).collect().head
    assert(top.getLong(2) == 0L, "query doc should rank first")
    // doc 1 (apple ×3 + banana, short) beats doc 2 (apple ×1, long)
    assert(res(1L) > res(2L), s"tf/length ordering violated: $res")
    // doc 4 shares no term: absent
    assert(!res.contains(4L))
  }

  test("bm25: same tf, longer document scores lower") {
    val toy = Seq(
      0L -> "apple banana cherry date egg",
      1L -> "apple pad1 pad2",
      2L -> "apple pad1 pad2 pad3 pad4 pad5 pad6 pad7 pad8 pad9 pada padb")
    val res = operators.Retrieval.bm25SearchOn(docsOf(toy)).collect()
      .map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(res(1L) > res(2L), s"length penalty missing: $res")
  }

  test("bm25: bounded-heap shortlist in the plan, no cartesian") {
    val df = operators.Retrieval.bm25Search(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    TopKPerKeySpec.assertGroupLimit(plan)
    assert(!plan.contains("CartesianProduct"))
  }

  // ---- ann_maxsim ----

  test("maxsim: engine result equals the md5-lattice reference on a toy corpus") {
    val toy = Seq(
      0L -> "red green blue",
      1L -> "red green blue",
      2L -> "red green yellow",
      3L -> "purple orange teal",
      4L -> "red blue green")
    val got = operators.Retrieval.annMaxsimOn(docsOf(toy)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == maxsimExpected(toy), s"got: $got\nexpected: ${maxsimExpected(toy)}")
    // identical bags embed identically: cos = 1 exactly on the lattice
    val byDoc = got.map(r => r._3 -> r._4).toMap
    assert(byDoc(1L) == 1000000L, s"identical doc must score exactly 10^6: $byDoc")
    assert(byDoc(4L) == 1000000L, "bag-of-words: word order cannot change the vector")
  }

  test("maxsim: one strong passage outranks uniform mediocrity (late interaction)") {
    val qWords = (0 until 120).map(i => s"q$i").mkString(" ")
    val docA = ((0 until 100).map(i => s"q$i") ++
      (0 until 100).map(i => s"noisea$i")).mkString(" ")
    val docB = (0 until 200).map(i => s"noiseb$i").mkString(" ")
    val docC = ((0 until 30).map(i => s"q$i") ++
      (0 until 170).map(i => s"noisec$i")).mkString(" ")
    val toy = Seq(0L -> qWords, 1L -> docA, 2L -> docB, 3L -> docC)
    val got = operators.Retrieval.annMaxsimOn(docsOf(toy)).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val byDoc = got.map(r => r._2 -> r._3).toMap
    // doc A's first chunk IS the query's first chunk: that query
    // chunk contributes the exact-match 10^6, so A beats the
    // partial-overlap C and the disjoint B
    assert(byDoc(1L) >= 1000000L, s"exact-passage hit lost: $byDoc")
    assert(byDoc(1L) > byDoc(3L) && byDoc(3L) > byDoc(2L),
      s"late-interaction ordering violated: $byDoc")
    assert(got.head._2 == 1L, "doc with the exact passage must rank first")
  }

  test("maxsim: results equal the engine reference at sf0.001 and are rank-contiguous") {
    val df = operators.Retrieval.annMaxsim(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    for ((q, rs) <- byQ) {
      assert(rs.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq,
        s"ranks not contiguous for query $q")
      val scores = rs.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(scores.zip(scores.tail).forall { case (x, y) => x >= y },
        s"scores not descending for query $q")
      assert(scores.forall(_ >= 0L), "ReLU clamp: no negative scores")
    }
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    TopKPerKeySpec.assertGroupLimit(plan)
  }

  // ---- hybrid_search ----

  /** RRF fusion reference: bm25Expected's shortlist + a dense
    * shortlist from the md5-lattice [[embed]] (self included on both
    * sides, the operator's contract), contributions 10⁶/(60+rank).
    */
  private def hybridExpected(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long, Long, Long)] = {
    val k = operators.Retrieval.HybridTopK
    val rrfK = operators.Retrieval.RrfK.toLong
    val lex = bm25Expected(docs)
      .filter(_._2 <= k).map { case (q, r, d, _, _) => (q, d) -> r }.toMap
    val vecs = docs.map { case (id, t) =>
      id -> embed(t.split(" ").filter(_.nonEmpty).toSeq) }
    val qs = vecs.filter { case (id, _) => id % operators.Retrieval.QueryStride == 0 &&
      id < operators.Retrieval.QueryStride.toLong * operators.Retrieval.MaxQueries }
    val dense = (for {
      (qid, (qv, qn2)) <- qs
      scored = vecs.map { case (did, (dv, dn2)) =>
        val dot = qv.zip(dv).map { case (x, y) => BigInt(x) * y }.sum
        val s = if (dot > 0 && qn2 > 0 && dn2 > 0)
          (dot * dot * 1000000 / (BigInt(qn2) * dn2)).toLong else 0L
        (did, s)
      }
      ranked = scored.sortBy { case (did, s) => (-s, did) }.take(k).zipWithIndex
      ((did, _), i) <- ranked
    } yield (qid, did) -> (i + 1L)).toMap
    val out = for {
      qid <- (lex.keys.map(_._1) ++ dense.keys.map(_._1)).toSeq.distinct
      fusedAll = (lex.keys ++ dense.keys).filter(_._1 == qid).toSeq.distinct.map {
        case (_, did) =>
          val lr = lex.getOrElse((qid, did), 0L)
          val dr = dense.getOrElse((qid, did), 0L)
          val rrf = (if (lr > 0) 1000000L / (rrfK + lr) else 0L) +
            (if (dr > 0) 1000000L / (rrfK + dr) else 0L)
          (did, rrf, lr, dr)
      }
      ranked = fusedAll.sortBy { case (did, rrf, _, _) => (-rrf, did) }.take(k).zipWithIndex
      ((did, rrf, lr, dr), i) <- ranked
    } yield (qid, i + 1L, did, rrf, lr, dr)
    out.sortBy(r => (r._1, r._2))
  }

  test("hybrid: engine result equals the RRF reference on a toy corpus") {
    val got = operators.Retrieval.hybridSearchOn(docsOf(bm25Toy)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == hybridExpected(bm25Toy), s"got: $got\nexpected: ${hybridExpected(bm25Toy)}")
  }

  test("hybrid: self doc tops both lists and the fusion; both-list docs beat one-list docs") {
    val got = operators.Retrieval.hybridSearchOn(docsOf(bm25Toy)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val top = got.find(_._2 == 1L).get
    assert(top._3 == 0L && top._4 == 2 * 1000000L / (operators.Retrieval.RrfK + 1),
      s"self doc must hold lex rank 1 AND dense rank 1: $top")
    // every fused row carries at least one source rank, and absent
    // ranks are encoded as 0, never null
    assert(got.forall(r => r._5 > 0 || r._6 > 0))
    // fused score is exactly the sum of its two contributions
    for (r <- got) {
      val want = (if (r._5 > 0) 1000000L / (operators.Retrieval.RrfK + r._5) else 0L) +
        (if (r._6 > 0) 1000000L / (operators.Retrieval.RrfK + r._6) else 0L)
      assert(r._4 == want, s"rrf decomposition violated: $r")
    }
  }

  test("hybrid: lexical-only and dense-only docs both surface (the fusion's point)") {
    // doc 5 shares a query term but embeds orthogonally is impossible
    // to plant on the md5 lattice; instead assert on the sf corpus
    // that BOTH one-list kinds occur among fused rows
    val rows = operators.Retrieval.hybridSearch(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(4), r.getLong(5)))
    assert(rows.exists { case (lr, dr) => lr > 0 && dr == 0 },
      "no lexical-only doc in any fused shortlist")
    assert(rows.exists { case (lr, dr) => lr == 0 && dr > 0 },
      "no dense-only doc in any fused shortlist")
    assert(rows.exists { case (lr, dr) => lr > 0 && dr > 0 },
      "no both-list doc in any fused shortlist")
  }

  test("hybrid: bounded-heap shortlists in the plan, corpus side never cartesian-paired") {
    val df = operators.Retrieval.hybridSearch(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    TopKPerKeySpec.assertGroupLimit(plan)
    assert(!plan.contains("CartesianProduct"), "dense scan must broadcast the query side")
  }

  test("dot product long kernel: exact vs BigInt on adversarial values") {
    import spark.implicits._
    val a = Seq.tabulate(64)(i => (i.toLong * 7919) % 101 - 50)
    val b = Seq.tabulate(64)(i => (i.toLong * 104729) % 97 - 48)
    val expected = a.zip(b).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
    val got = Seq((a, b)).toDF("a", "b")
      .select(graft.functions.VectorFunctions.dotProductLong(col("a"), col("b")))
      .head().getLong(0)
    assert(BigInt(got) == expected)
  }
}
