package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** q226's auto-scaled IVF: the graft_ivf_top expression's ranking
  * semantics, and plan-for-plan parity between the native
  * (expression-projection) path and the compositional
  * (greatest-tree + crossJoin-window) path it replaces. */
class IvfAutoSpec extends SparkSpec {
  import spark.implicits._

  private def top(vec: Seq[Long], codebook: Seq[Seq[Long]],
                  norms: Seq[Double], p: Int): Seq[Int] =
    Seq(Tuple1(vec)).toDF("v")
      .select(call_function("graft_ivf_top",
        typedLit(vec), typedLit(codebook), typedLit(norms), lit(p)).as("r"))
      .head.getSeq[Int](0).toSeq

  test("graft_ivf_top ranks by dot/norm desc, ties to the smaller index") {
    val book = Seq(Seq(1L, 0L), Seq(0L, 1L), Seq(1L, 1L))
    val norms = Seq(1.0, 1.0, math.sqrt(2.0))
    // v=(1,0): scores 1.0, 0.0, 1/sqrt2 -> top2 = [0, 2]
    assert(top(Seq(1L, 0L), book, norms, 2) === Seq(0, 2))
    // v=(1,1): c2 wins at sqrt(2); c0 and c1 tie at 1.0 -> smaller
    // index first among the tied
    assert(top(Seq(1L, 1L), book, norms, 3) === Seq(2, 0, 1))
    // p beyond k truncates to k
    assert(top(Seq(1L, 0L), book, norms, 9).length === 3)
    // p=1 is the assignment case
    assert(top(Seq(0L, 5L), book, norms, 1) === Seq(1))
  }

  test("graft_ivf_top codegen path agrees with the interpreted path") {
    // column input defeats constant folding -> whole-stage codegen;
    // the literal-only calls above folded through nullSafeEval
    val book = Seq(Seq(3L, -1L, 2L), Seq(-2L, 4L, 1L), Seq(0L, 0L, 5L))
    val norms = book.map(c => math.sqrt(c.map(x => x * x).sum.toDouble))
    val vecs = Seq(Seq(1L, 2L, 3L), Seq(-5L, 1L, 0L), Seq(2L, 2L, 2L))
    val viaCol = vecs.map(Tuple1(_)).toDF("v")
      .select(call_function("graft_ivf_top", col("v"),
        typedLit(book), typedLit(norms), lit(2)).as("r"))
      .collect().map(_.getSeq[Int](0).toSeq).toSeq
    val viaLit = vecs.map(v => top(v, book, norms, 2))
    assert(viaCol === viaLit)
  }

  test("graft_ivf_top_l2 ranks by ascending L2 distance, ties to the smaller index") {
    def topL2(vec: Seq[Long], codebook: Seq[Seq[Long]], p: Int): Seq[Int] =
      Seq(Tuple1(vec)).toDF("v")
        .select(call_function("graft_ivf_top_l2",
          typedLit(vec), typedLit(codebook),
          typedLit(codebook.map(c => c.map(x => x * x).sum.toDouble)), lit(p)).as("r"))
        .head.getSeq[Int](0).toSeq
    val book = Seq(Seq(1L, 0L), Seq(0L, 1L), Seq(3L, 3L))
    // v=(2,2): d² to c0 = 1+4 = 5, c1 = 4+1 = 5, c2 = 1+1 = 2
    // -> c2 first, then the c0/c1 tie resolves to the smaller index
    assert(topL2(Seq(2L, 2L), book, 3) === Seq(2, 0, 1))
    // v=(0,0): d² = 1, 1, 18 -> tie at the top, smaller index wins
    assert(topL2(Seq(0L, 0L), book, 2) === Seq(0, 1))
  }

  test("native assign/probe == builtin, cosine and L2") {
    val sp = spark
    val c = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("query_vec"))
    val q = c.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
    val numC = math.ceil(math.sqrt(c.count().toDouble)).toInt
    val cents = Similarity.ivfCentroids(c, numC)
    for (metric <- Seq(Similarity.Cosine, Similarity.L2)) {
      assert(spark.catalog.functionExists(metric.nativeFn), "extension not loaded")
      val viaNative = c.select(col("vec_id"),
          Similarity.ivfAssign(sp, col("query_vec"), cents, metric).as("cid"))
        .as[(Long, Long)].collect().toMap
      val viaBuiltin = c.select(col("vec_id"),
          Similarity.ivfAssignBuiltin(sp, col("query_vec"), cents, metric).as("cid"))
        .as[(Long, Long)].collect().toMap
      assert(viaNative === viaBuiltin, s"assignment, $metric")
      val probesNative = Similarity.ivfProbes(q, cents, nprobe = 4, metric)
        .select("query_id", "cid").as[(Long, Long)].collect().sorted.toSeq
      val probesBuiltin = Similarity.ivfProbesBuiltin(q, cents, nprobe = 4, metric)
        .select("query_id", "cid").as[(Long, Long)].collect().sorted.toSeq
      assert(probesNative === probesBuiltin, s"probes, $metric")
      assert(probesNative.nonEmpty)
    }
  }

  test("property: graft_ivf_top matches a plain-Scala reference on random inputs (both modes)") {
    // Reference: score every centroid, stable-sort by (score desc,
    // index asc), take p — the spec the insertion-sort codegen must
    // meet, including duplicate scores and p >= k.
    def reference(vec: Seq[Long], book: Seq[Seq[Long]], aux: Seq[Double],
                  p: Int, l2: Boolean): Seq[Int] =
      book.indices
        .map { c =>
          val dot = vec.zip(book(c)).map { case (a, b) => a * b }.sum
          val score = if (l2) 2.0 * dot - aux(c) else dot.toDouble / aux(c)
          (c, score)
        }
        .sortBy { case (c, score) => (-score, c) }
        .take(p).map(_._1)
    // deterministic LCG so failures replay
    var seed = 0xabcdef12L
    def next(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    (1 to 40).foreach { _ =>
      val d = 1 + next(6)
      val k = 1 + next(9)
      val p = 1 + next(12) // deliberately often > k
      // small value range forces frequent duplicate scores (tie law)
      def v() = Seq.fill(d)((next(5) - 2).toLong)
      val book = Seq.fill(k)(v())
      val vecs = Seq.fill(3)(v())
      for (l2 <- Seq(false, true)) {
        val aux =
          if (l2) book.map(c => c.map(x => x * x).sum.toDouble)
          else book.map(c => math.sqrt(c.map(x => x * x).sum.toDouble).max(1e-12))
        val fn = if (l2) "graft_ivf_top_l2" else "graft_ivf_top"
        val got = vecs.map(Tuple1(_)).toDF("v")
          .select(call_function(fn, col("v"),
            typedLit(book), typedLit(aux), lit(p)).as("r"))
          .collect().map(_.getSeq[Int](0).toSeq).toSeq
        val want = vecs.map(vec => reference(vec, book, aux, p, l2))
        assert(got === want,
          s"mode l2=$l2 d=$d k=$k p=$p book=$book vecs=$vecs")
      }
    }
  }

  test("ivfTopKAuto (native projections) matches the compositional ivfTopK at sqrt(n)") {
    val sp = spark
    val c = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("query_vec"))
    val q = c.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("query_id"), col("query_vec").as("qvec"))
    val numC = math.ceil(math.sqrt(c.count().toDouble)).toInt
    assert(spark.catalog.functionExists("graft_ivf_top"), "extension not loaded")
    val auto = Similarity.ivfTopKAuto(c, q, k = 5, nprobe = 4)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val viaTopK = Similarity.ivfTopK(c, q, k = 5, numCentroids = numC, nprobe = 4)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    // the compositional reference: builtin greatest-tree assignment
    // and crossJoin+window probes under the same cosine tail
    val cents = Similarity.ivfCentroids(c, numC)
    val dot = Similarity.dotFast(sp, _: org.apache.spark.sql.Column,
      _: org.apache.spark.sql.Column)
    val assigned = c
      .withColumn("cid", Similarity.ivfAssignBuiltin(sp, col("query_vec"), cents,
        Similarity.Cosine))
      .withColumn("_n2c", dot(col("query_vec"), col("query_vec")))
    val probes = Similarity.ivfProbesBuiltin(q, cents, nprobe = 4, Similarity.Cosine)
      .withColumn("_n2q", dot(col("qvec"), col("qvec")))
    val ref = Similarity.cosineTopK(assigned.join(probes, "cid")
        .filter(col("query_id") =!= col("vec_id")), k = 5)
      .select("query_id", "rank", "vec_id", "cosine")
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(auto.nonEmpty)
    assert(auto === ref)
    assert(viaTopK === ref)
  }
}
