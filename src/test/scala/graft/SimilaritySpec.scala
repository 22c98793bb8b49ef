package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("brute-force top-k ranks by cosine with id tie-break") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.1f)),  // closest to 1
      (3L, Array(0.0f, 1.0f)),  // orthogonal to 1
      (4L, Array(-1.0f, 0.0f))) // opposite
      .toDF("vec_id", "embedding")
    val v = Similarity.prepared(vecs, "vec_id", "embedding")
    val got = Similarity
      .bruteForceTopK(v.filter(col("vec_id") === 1), v, "vec_id", k = 3)
      .orderBy("rank")
      .select("cand_id").as[Long].collect().toSeq
    assert(got == Seq(2L, 3L, 4L))
  }

  test("IvfProbes matches the composed array_sort formulation bit-for-bit") {
    // the fused native scorer must select the SAME probe cells in the
    // SAME order as slice(array_sort(array(struct(negcos, cell))), 1, n)
    // — same dots, same constant-folded seed norms, same (negcos, cell)
    // tie rule — on real fixture vectors, at an odd cell count, and for
    // nProbe larger than the cell count (truncation edge)
    val v = Similarity.prepared(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id", "embedding")
    for ((cells, nProbe) <- Seq((23, 3), (7, 11))) {
      val seeds = Similarity.collectSeeds(v, "vec_id", cells)
      val composed = v.select(
        col("vec_id"),
        slice(array_sort(Similarity.seedScores(seeds)), 1, nProbe)
          .getField("cell").as("p"))
        .as[(Long, Seq[Int])].collect().sortBy(_._1)
      val native = v.select(
        col("vec_id"),
        graft.functions.IvfProbes(col("v"), col("nv"), seeds, nProbe).as("p"))
        .as[(Long, Seq[Int])].collect().sortBy(_._1)
      assert(native.length == composed.length)
      native.zip(composed).foreach { case ((idN, pN), (idC, pC)) =>
        assert(idN == idC && pN == pC, s"cells=$cells nProbe=$nProbe id=$idN: $pN vs $pC")
      }
    }
  }

  test("quantized kNN recalls the float-exact top-5 almost perfectly") {
    // int8 quantization perturbs cosines by O(1/127); on real fixture
    // vectors the top-5 neighbor sets should survive nearly intact
    val exact = graft.queries.SimilarityQueries.q40KnnBrute(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val quant = graft.queries.SimilarityQueries.q85KnnQuantized(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // q85 excludes zero-norm vectors by contract; compare on the common
    // query set and require it to be non-trivial
    val common = exact.keySet & quant.keySet
    assert(common.nonEmpty && common.size >= exact.size - 1,
      s"query sets diverged beyond the zero-vector contract: $common")
    val recall = common.toSeq
      .map(q => (exact(q) & quant(q)).size.toDouble / exact(q).size).sum / common.size
    assert(recall >= 0.9, s"quantized top-5 recall $recall < 0.9")
  }

  test("matryoshka prefix kNN beats random recall of the full-width top-5") {
    // fixture embeddings are isotropic (no Matryoshka training front-
    // loads their variance), so prefix-16 recall lands far below what a
    // production MRL model yields — the spec asserts the truncation
    // still preserves real neighbor structure (random top-5 over ~500
    // candidates recalls ~0.01; measured here ~0.14)
    val exact = graft.queries.SimilarityQueries.q40KnnBrute(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val trunc = graft.queries.SimilarityQueries.q91MatryoshkaKnn(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(trunc.keySet == exact.keySet)
    val recall = exact.keySet.toSeq
      .map(q => (exact(q) & trunc(q)).size.toDouble / exact(q).size).sum / exact.size
    info(f"matryoshka recall@5 = $recall%.3f")
    assert(recall >= 0.05, s"prefix-16 top-5 recall $recall is indistinguishable from random")
  }

  test("PqEncode matches the composed argmin formulation bit-for-bit") {
    // the fused native encoder must pick the SAME codes and accumulate
    // the SAME error double as the composed array_min(struct(dist, j))
    // over aggregate(zip_with(...)) squared-L2 folds — same per-element
    // float widening, same ascending adds, same (dist, code) tie rule
    val v = Similarity.prepared(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id", "embedding")
    val cb = Similarity.pqCodebook(v, "vec_id", m = 4, k = 16)
    val sub = cb.head.head.length
    val subdists = (0 until cb.length).map { s =>
      array((0 until cb(s).length).map { j =>
        val c = array(cb(s)(j).toIndexedSeq.map(lit): _*)
        struct(
          aggregate(
            zip_with(
              slice(graft.functions.TextFunctions.toDouble(col("v")), s * sub + 1, sub),
              c, (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, d) => acc + d).as("dist"),
          lit(j).as("code"))
      }: _*)
    }
    val composed = v.select(
      col("vec_id"),
      array(subdists.map(sd => array_min(sd).getField("code")): _*).as("codes"),
      subdists.map(sd => array_min(sd).getField("dist")).reduce(_ + _).as("err"))
      .as[(Long, Seq[Int], Double)].collect().sortBy(_._1)
    val native = Similarity.pqEncode(v, "vec_id", cb)
      .as[(Long, Seq[Int], Double)].collect().sortBy(_._1)
    assert(native.length == composed.length && native.nonEmpty)
    native.zip(composed).foreach { case ((idN, cN, eN), (idC, cC, eC)) =>
      assert(idN == idC && cN == cC, s"id=$idN: codes $cN vs $cC")
      assert(eN == eC, s"id=$idN: err $eN vs $eC (must be bit-equal)")
    }
  }

  test("PQ ADC kNN preserves real neighbor structure (recall far above random)") {
    // the sampled codebook on isotropic fixture vectors is the WORST
    // case for PQ (no trained centroids, no variance front-loading) —
    // measured recall@5 ≈ 0.20 vs ~0.01 for random top-5 over ~500
    // candidates; assert a conservative floor
    val exact = graft.queries.SimilarityQueries.q40KnnBrute(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val pq = graft.queries.SimilarityQueries.q110PqAdcKnn(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(pq.keySet == exact.keySet)
    val recall = exact.keySet.toSeq
      .map(q => (exact(q) & pq(q)).size.toDouble / exact(q).size).sum / exact.size
    info(f"pq adc recall@5 = $recall%.3f")
    assert(recall >= 0.08, s"PQ ADC top-5 recall $recall is indistinguishable from random")
  }

  test("IVF+PQ kNN stays within the probed-cell candidate set and keeps real recall") {
    // q112 must be a SUBSET relation of q110's full-scan ADC ranking:
    // every (query, cand) it returns must rank by the same ADC value,
    // and recall vs the exact answer stays far above random even after
    // both approximations (cell probing × quantized distances)
    val exact = graft.queries.SimilarityQueries.q40KnnBrute(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivfpq = graft.queries.SimilarityQueries.q112IvfPqKnn(spark, sfDir)
      .select("query_id", "cand_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(ivfpq.keySet == exact.keySet)
    val recall = exact.keySet.toSeq
      .map(q => (exact(q) & ivfpq(q)).size.toDouble / exact(q).size).sum / exact.size
    info(f"ivf+pq recall@5 = $recall%.3f")
    assert(recall >= 0.05, s"IVF+PQ top-5 recall $recall is indistinguishable from random")
  }

  test("PqEncode nulls on dimension mismatch, per the composed-form contract") {
    val cb = Array.fill(2, 4, 2)(0.5)
    val bad = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "v")
    val out = bad.select(
      col("vec_id"), graft.functions.PqEncode(col("v"), cb).as("pq"))
      .select(col("vec_id"), col("pq").isNull.as("isnull"))
      .as[(Long, Boolean)].collect().toMap
    assert(out(1L), "3-element vector against a 4-dim codebook must yield null")
    assert(!out(2L), "matching dimension must encode")
  }

  test("semantic dedup keeps exactly the min-id member of every in-cell near-dup relation") {
    import org.apache.spark.sql.functions._
    val kept = graft.queries.SimilarityQueries.q89SemanticDedup(spark, sfDir)
    val keptIds = kept.select("vec_id").as[Long].collect().toSet
    val n = Runner.released(spark)(spark.read.parquet(s"$sfDir/embeddings.parquet").count())
    // survivors are a strict, non-empty subset on a fixture with near-dups
    assert(keptIds.nonEmpty && keptIds.size <= n)
    // re-derive the dropped set independently: any vector with a
    // smaller-id in-cell neighbor at round-6dp cosine >= 0.30
    val v = Similarity.prepared(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id", "embedding")
    val cells = math.ceil(math.sqrt(n.toDouble)).toInt
    val a = Similarity.ivfAssign(v, "vec_id", cells)
    val pairs = a.select(col("vec_id").as("id_a"), col("v").as("va"), col("cell"))
      .join(a.select(col("vec_id").as("id_b"), col("v").as("vb"), col("cell")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(graft.functions.TextFunctions.cosine(col("va"), col("vb")), 6) >= 0.30)
      .select("id_b").as[Long].collect().toSet
    val allIds = a.select("vec_id").as[Long].collect().toSet
    assert(keptIds == allIds -- pairs)
  }

  test("kmeans matches a driver-side Lloyd reference and handles empty clusters") {
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 60)
    val v = Similarity.prepared(vecs, "vec_id", "embedding")
    val got = Similarity.kmeans(v, "vec_id", k = 4, passes = 3)
      .as[(Long, Int)].collect().toMap

    // independent driver-side replay: same seeds, same fixed-point
    // centroid rule, same (-cos, cluster) argmin
    val raw = vecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
      .map { case (id, e) => id -> e.map(_.toDouble).toArray }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    var cents = raw.take(4).map(_._2.clone)
    var assign = Map.empty[Long, Int]
    for (pass <- 1 to 3) {
      assign = raw.map { case (id, e) =>
        id -> cents.indices.minBy(c => (-cos(e, cents(c)), c))
      }.toMap
      if (pass < 3) {
        val next = cents.map(_.clone)
        for (c <- cents.indices) {
          val members = raw.filter(r => assign(r._1) == c).map(_._2)
          if (members.nonEmpty)
            for (d <- next(c).indices)
              next(c)(d) =
                members.map(m => math.round(m(d) * 1e6)).sum / 1e6 / members.length
        }
        cents = next
      }
    }
    assert(got == assign)
    // k > corpus size: the surplus clusters stay empty (seed fallback)
    // without error, and every vector still lands in exactly one cluster
    val tiny = v.filter(col("vec_id") < 3)
    val small = Similarity.kmeans(tiny, "vec_id", k = 8, passes = 2)
      .as[(Long, Int)].collect()
    assert(small.length == 3 && small.map(_._1).toSet == Set(0L, 1L, 2L))
  }

  test("ANN results carry exact cosines and reach useful recall on sf0.001") {
    val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val v = Similarity.prepared(raw, "vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(v, v, "vec_id", k = 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annLsh(v, "vec_id", dim = 64, numPlanes = 8, k = 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = ann.intersect(brute).size.toDouble / brute.size
    info(f"ANN recall@3 = $recall%.3f (|brute|=${brute.size}, |ann|=${ann.size})")
    assert(recall > 0.02, "multi-probe LSH should beat random bucketing")
    // every ANN pair's cosine must equal the exact cosine (re-rank is exact)
    val annCos = Similarity.annLsh(v, "vec_id", dim = 64, numPlanes = 8, k = 3)
      .select("query_id", "cand_id", "cos").as[(Long, Long, Double)].collect()
    val exact = Similarity.bruteForcePairs(v, v, "vec_id", minCos = -1.0)
      .select("query_id", "cand_id", "cos").as[(Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    annCos.foreach { case (q, c, cos) => assert(exact((q, c)) == cos) }
  }

  test("hard negatives are the exact top-k below the dup threshold (q118)") {
    val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val v = Similarity.prepared(raw, "vec_id", "embedding")
    val maxCos = 0.30
    val hn = Similarity
      .hardNegatives(v.filter($"vec_id" < 10), v, "vec_id", k = 5, maxCos)
      .select("query_id", "rank", "cand_id", "cos")
      .as[(Long, Int, Long, Double)].collect()
    assert(hn.forall(_._4 < maxCos), "a hard negative must stay below the dup band")
    // per query: exactly the brute-force ranking restricted to cos < maxCos
    val expected = Similarity
      .bruteForcePairs(v.filter($"vec_id" < 10), v, "vec_id", minCos = -1.0)
      .select("query_id", "cand_id", "cos").as[(Long, Long, Double)].collect()
      .filter(_._3 < maxCos)
      .groupBy(_._1).view.mapValues(
        _.sortBy(p => (-p._3, p._2)).take(5).map(p => (p._2, p._3)).toSeq)
      .toMap
    hn.groupBy(_._1).foreach { case (q, rows) =>
      val got = rows.sortBy(_._2).map(r => (r._3, r._4)).toSeq
      assert(got == expected(q), s"query $q: $got != ${expected(q)}")
    }
  }
}
