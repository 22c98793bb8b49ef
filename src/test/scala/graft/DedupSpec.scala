package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")

  test("exact dedup groups whitespace-normalized duplicates") {
    val d = docs(
      1L -> "The quick   brown fox",
      2L -> "  the QUICK brown\tfox ",
      3L -> "something else entirely")
    val got = Dedup.exact(d, "text", "doc_id")
      .select("keeper", "n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (3L, 1L)))
  }

  test("ngram jaccard finds near-duplicates and skips disjoint docs") {
    val d = docs(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g z", // shares 5 of the shingles
      3L -> "q r s t u v w x")
    val got = Dedup.ngramJaccard(d, "text", "doc_id", threshold = 0.3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(got.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    // 6 shingles each, 5 shared → J = 5 / 7
    assert(math.abs(got.head._3 - 5.0 / 7.0) < 1e-6)
  }

  test("minhash LSH surfaces identical docs as candidates with J=1") {
    val d = docs(
      1L -> "one two three four five six",
      2L -> "one two three four five six",
      3L -> "totally different words here now")
    val sigs = Dedup.minhashSignatures(d, "text", "doc_id", numHashes = 4)
    val cand = Dedup.lshCandidates(sigs, "doc_id", rowsPerBand = 1)
    val verified = Dedup
      .jaccardVerify(cand, Dedup.shinglePairs(d, "text", "doc_id"), "doc_id")
      .as[(Long, Long, Double)].collect().toSet
    assert(verified == Set((1L, 2L, 1.0)))
  }

  test("simhash is identical for identical content and signatures fit in 16 bits") {
    val d = docs(
      1L -> "alpha beta gamma delta",
      2L -> "alpha  BETA gamma delta!",
      3L -> "epsilon zeta eta theta")
    val sigs = Dedup.simhash16(d, "text", "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L)) // same cleaned word set
    assert(sigs.values.forall(s => s >= 0 && s < (1 << 16)))
  }

  test("simhash banded pairs == brute-force pairs at distance <= 3") {
    val d = docs((1L to 20L).map(i =>
      i -> s"word$i common shared tokens across documents number $i"): _*)
    val sigs = Dedup.simhash16(d, "text", "doc_id")
    val banded = Dedup.simhashPairs(sigs, "doc_id", maxDist = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val all = sigs.as[(Long, Long)].collect()
    val brute = (for {
      (a, sa) <- all; (b, sb) <- all if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(banded == brute)
  }

  test("long-format LSH candidates equal the array-format path (r=2)") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val sh = Dedup.shinglePairs(d, "text", "doc_id")
    val longFmt = Dedup.minhashLshCandidates(sh, "doc_id", numHashes = 8)
      .as[(Long, Long)].collect().toSet
    val sigs = Dedup.minhashSignatures(d, "text", "doc_id", numHashes = 8)
    val arrayFmt = Dedup.lshCandidates(sigs, "doc_id", rowsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    assert(longFmt == arrayFmt)
  }

  test("connected components labels chains and leaves islands separate") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (6L, 5L), (9L, 9L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("stop-shingle cap bounds fan-out and only drops common-shingle-only pairs") {
    // docs 1/2 share a rare 3-gram; docs 3/4 share ONLY the boilerplate
    // 3-gram that appears in every doc
    val boiler = "lorem ipsum dolor"
    val d = docs(
      1L -> s"$boiler alpha beta gamma",
      2L -> s"$boiler alpha beta gamma",
      3L -> s"$boiler one two three",
      4L -> s"$boiler four five six")
    val uncapped = Dedup.ngramJaccard(d, "text", "doc_id", threshold = 0.01)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.ngramJaccard(d, "text", "doc_id", threshold = 0.01,
      maxShingleDf = Some(3))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((3L, 4L)), "boilerplate links 3-4 without the cap")
    assert(capped.contains((1L, 2L)), "rare-shingle pairs must survive the cap")
    assert(!capped.contains((3L, 4L)), "common-shingle-only pairs drop under the cap")
  }

  test("keepClusterKeepers drops every non-keeper and nothing else") {
    val d = docs(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.keepClusterKeepers(d, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L))
  }

  test("clusterWeights conserves corpus mass and keeps exactly the keeper set") {
    val d = docs(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.clusterWeights(d, pairs, "doc_id")
      .as[(Long, Long)].collect().toMap
    // keeper 1 carries its 3-member cluster; 4 and 5 are unclustered
    assert(got == Map(1L -> 3L, 4L -> 1L, 5L -> 1L))
    assert(got.values.sum == 5L, "total weight must equal the corpus size")
    val kept = Dedup.keepClusterKeepers(d, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(got.keySet == kept, "weighted keepers must equal keepClusterKeepers")
  }

  test("connected components converges in O(log D) rounds on a long chain") {
    // a 100-diameter chain would need ~100 rounds of plain propagation;
    // pointer doubling must finish well inside maxIter = 12
    val pairs = (1L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert((1L to 100L).forall(got(_) == 1L))
  }

  test("64-bit simhash separates near-dups from unrelated docs; banded pairs find them") {
    val base = "the quick brown fox jumps over a lazy dog while rain falls on " +
      "the old stone bridge near the quiet village market square at dawn"
    val d = docs(
      1L -> base,
      2L -> (base + " extra token"), // near-dup: one word added
      3L -> "entirely unrelated content about spark catalyst optimizer rules and shuffles galore")
    val sigs = Dedup.simhash(d, "text", "doc_id", bits = 64)
    val m = sigs.select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) <= 7, s"near-dups far apart: ${ham(m(1L), m(2L))}")
    assert(ham(m(1L), m(3L)) > 7, s"unrelated docs too close: ${ham(m(1L), m(3L))}")
    val pairs = Dedup.simhashPairs(sigs, "doc_id", maxDist = 7, bits = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("wide simhash matches an independent long-format vote formulation") {
    // independent reference: the ORIGINAL explode-by-bit two-aggregation
    // plan (replaced in the operator by the one-shuffle conditional-sum
    // plan) — differential-tests the rewrite on real corpus text
    import graft.functions.TextFunctions.wordsArr
    val real = spark.read.parquet(s"$sfDir/documents.parquet")
    val longFormat = real
      .select(col("doc_id"), explode(array_distinct(wordsArr(col("text")))).as("w"))
      .withColumn("h", md5(col("w")))
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(15))).as("i"))
      .withColumn("vote",
        expr("CASE WHEN (instr('0123456789abcdef', substring(h, i + 1, 1)) - 1) % 2 = 1 " +
          "THEN 1 ELSE -1 END"))
      .groupBy(col("doc_id"), col("i"))
      .agg(sum(col("vote")).as("v"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("v") > 0, expr("shiftleft(1L, i)")).otherwise(0L)).as("simhash"))
      .as[(Long, Long)].collect().sorted.toSeq
    val wide = Dedup.simhash(real, "text", "doc_id", bits = 16)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(wide == longFormat && wide.nonEmpty)
  }

  test("bloom decontamination is a tight superset of the exact answer") {
    // the sketch can only ADD false positives: every exactly-flagged doc
    // must appear with an >= count, and at fpp=1e-6 the excess must be
    // tiny (each non-benchmark doc tests a few hundred shingles)
    val exact = Runner.released(spark) {
      graft.queries.DedupQueries.q78Decontaminate(spark, sfDir)
        .as[(Long, Long)].collect().toMap
    }
    val bloom = Runner.released(spark) {
      graft.queries.DedupQueries.q93BloomDecontaminate(spark, sfDir)
        .as[(Long, Long)].collect().toMap
    }
    exact.foreach { case (id, n) =>
      assert(bloom.contains(id), s"exactly-flagged doc $id missing from bloom answer")
      assert(bloom(id) >= n, s"doc $id: bloom count ${bloom(id)} < exact $n")
    }
    val extraDocs = bloom.keySet -- exact.keySet
    val extraCounts = exact.keysIterator.map(id => bloom(id) - exact(id)).sum
    assert(extraDocs.size <= 2, s"false-positive docs: $extraDocs")
    assert(extraCounts <= 5, s"false-positive shingle hits: $extraCounts")
  }

  test("full MinHash pipeline finds seeded near-duplicates in real text") {
    // take real paragraphs from the committed GPL v3 text (FIXTURES.md §C),
    // seed mutated copies
    val src = java.nio.file.Files.readString(java.nio.file.Paths.get(
      getClass.getResource("/dedup_prose/gpl-3.0.txt").toURI))
    val paras = src.split("\\n\\n").map(_.trim).filter(_.length > 200).take(20)
    val rnd = new scala.util.Random(5)
    val originals = paras.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val mutated = paras.zipWithIndex.map { case (t, i) =>
      val words = t.split("\\s+")
      val k = math.max(1, words.length / 20) // mutate ~5% of words
      val idxs = Seq.fill(k)(rnd.nextInt(words.length)).toSet
      val m = words.zipWithIndex
        .map { case (w, j) => if (idxs(j)) "MUTATED" else w }.mkString(" ")
      ((i + 1000).toLong, m)
    }
    val d = (originals ++ mutated).toSeq.toDF("doc_id", "text")
    val sh = Dedup.shinglePairs(d, "text", "doc_id").persist()
    val cand = Dedup.minhashLshCandidates(sh, "doc_id", numHashes = 8)
    val verified = Dedup.jaccardVerify(cand, sh, "doc_id")
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = originals.indices.map(i => (i.toLong, (i + 1000).toLong)).toSet
    val found = expected.intersect(verified)
    info(s"found ${found.size}/${expected.size} seeded near-dup pairs")
    // r=2 banding: P(candidate) = 1-(1-J^2)^4, J~0.8-0.9 -> ~97-99%
    assert(found.size >= expected.size * 7 / 10)
    // and no original-original false positives at this threshold
    val falsePos = verified.filter { case (a, b) => a < 1000 && b < 1000 }
    assert(falsePos.isEmpty, s"unexpected high-jaccard pairs: $falsePos")
  }

  test("cross-corpus dedup drops near-dup increments, keeps fresh ones, never touches old") {
    val oldC = docs(
      1L -> "a b c d e f g h",
      2L -> "q r s t u v w x")
    val newC = docs(
      10L -> "a b c d e f g z", // near-dup of old doc 1 (J = 5/7)
      11L -> "m n o p m n o p") // disjoint from the old corpus
    val matches = Dedup.crossCorpusMatches(newC, oldC, "text", "doc_id", threshold = 0.3)
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(matches == Set((10L, 1L)))
    val kept = Dedup.dedupAgainstCorpus(newC, oldC, "text", "doc_id", threshold = 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(11L))
    // dedup is one-directional: within-new and within-old pairs are never
    // generated, so a near-dup pair INSIDE the increment both survive
    val newTwins = docs(20L -> "j k l j k l j k", 21L -> "j k l j k l j k")
    val keptTwins = Dedup.dedupAgainstCorpus(newTwins, oldC, "text", "doc_id", threshold = 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(keptTwins == Set(20L, 21L))
  }

  test("passage dedup keeps first occurrences and rebuilds text in order") {
    // passages of 2 words; doc 1 owns [a b] [c d]; doc 2 repeats [a b]
    // then contributes [x y]; doc 3 is entirely made of seen passages;
    // doc 4 has a short tail passage
    val d = docs(
      1L -> "a b c d",
      2L -> "a b x y",
      3L -> "c d a b",
      4L -> "x y z")
    val got = Dedup.passageDedup(d, "text", "doc_id", passageWords = 2)
      .select("doc_id", "n_passages", "n_kept", "text_kept")
      .as[(Long, Long, Long, String)].collect().toMap2
    assert(got(1L) == ((2L, 2L, "a b c d")))
    assert(got(2L) == ((2L, 1L, "x y")))
    assert(got(3L) == ((2L, 0L, "")))
    assert(got(4L) == ((2L, 1L, "z"))) // [x y] seen in doc 2; tail [z] kept
  }

  private implicit class Map2Ops(rows: Array[(Long, Long, Long, String)]) {
    def toMap2: Map[Long, (Long, Long, String)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("dup spans are maximal, cross-document only, and clamp short docs") {
    // docs 1 and 2 share the run "c d e f g" (three 3-grams, one maximal
    // span of 5 tokens); doc 1's self-repeat "x y z x y z" must NOT flag
    // (df counts distinct docs); doc 3 repeats doc 1's span too
    val d = docs(
      1L -> "a b c d e f g h x y z x y z",
      2L -> "q c d e f g r s",
      3L -> "c d e f g",
      4L -> "totally unrelated content here")
    val got = Dedup.dupSpans(d, "text", "doc_id", n = 3)
      .select("doc_id", "start_tok", "n_grams", "n_tokens")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2, 3L, 5L),  // tokens 2..6 = c d e f g
      (2L, 1, 3L, 5L),  // tokens 1..5
      (3L, 0, 3L, 5L))) // the whole 5-word doc
    // sub-n-word doc pair: whole-doc fallback gram, span clamped to doc;
    // empty-after-cleaning docs emit no grams (and can never pair)
    val tiny = docs(1L -> "a b", 2L -> "a b", 3L -> "c", 4L -> "!!", 5L -> "??")
    val got2 = Dedup.dupSpans(tiny, "text", "doc_id", n = 3)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toSet
    assert(got2 == Set((1L, 2L), (2L, 2L)))
  }

  test("salted CC: identical labels on a Zipfian hub graph, hot-key load split S ways") {
    // hub 0 with 2000 spokes plus a 50-node chain hanging off spoke 1 —
    // the power-law worst case for BOTH per-round joins: dst=0 carries
    // the hub degree, and comp=0 ends up the label of every node
    val star = (1L to 2000L).map(s => (0L, s))
    val chain = (0 until 50).map(i => (2001L + i, 2002L + i))
    val pairs = (star ++ chain :+ (1L, 2001L)).toDF("id_a", "id_b")
    def labelMap(salt: Int) = Runner.released(spark) {
      Dedup.connectedComponents(pairs, saltBuckets = salt)
        .as[(Long, Long)].collect().toMap
    }
    val plain = labelMap(1)
    val salted = labelMap(8)
    assert(plain == salted, "salting must be label-invariant")
    assert(plain.values.forall(_ == 0L), "one giant component labeled by the hub")

    // partition-load differential on the operator's own edge layout:
    // unsalted, every dst=0 edge lands in ONE shuffle partition; salted,
    // hash(src) mod 8 spreads them
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
    def maxPartitionRows(d: DataFrame): Long =
      d.groupBy(spark_partition_id()).count()
        .agg(max("count")).as[Long].collect().head
    // explicit width: AQE otherwise coalesces this fixture-sized
    // exchange to one partition and the differential measures nothing
    val unsaltedMax = maxPartitionRows(sym.repartition(8, col("dst")))
    val saltedMax = maxPartitionRows(
      sym.withColumn("salt", pmod(hash(col("src")), lit(8)))
        .repartition(8, col("dst"), col("salt")))
    assert(unsaltedMax >= 2000L,
      s"fixture must concentrate the hub degree unsalted, got $unsaltedMax")
    assert(saltedMax * 2 <= unsaltedMax,
      s"salting must at least halve the hottest partition " +
        s"(unsalted $unsaltedMax, salted $saltedMax)")
  }
}
