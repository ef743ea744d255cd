package graft

import graft.functions.{Similarity, TextAnalysis}
import graft.ops.{Ann, Dedup}
import org.apache.spark.sql.functions._

class DedupAnnSpec extends SparkSpec {
  import spark.implicits._

  val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river delta"), // near dup of 1
    (4L, "completely different content about spark catalyst optimizer rules engine"),
    (5L, "  the quick  brown fox jumps over the lazy dog near the river bank ") // ws-variant of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups whitespace-normalized copies, keeps lowest id") {
    val d = Dedup.exact(corpus).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // 1,2,5 collapse; 3 and 4 stand alone
    assert(d == Set((3L, 1L), (1L, 3L), (1L, 4L)))
  }

  test("minhash: identical docs get identical signatures; near-dups share a band") {
    val sig = Dedup.minhash(corpus).collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) == sig(5L)) // whitespace-normalized tokens
    assert(sig(1L) != sig(4L))
    val pairs = Dedup.minhashCandidates(Dedup.minhash(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("clusters: min-label connected components over candidate pairs") {
    import spark.implicits._
    // two components: a 5-node chain (needs >1 propagation round) and a pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("id_a", "id_b")
    val got = graft.ops.Dedup.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      8L -> 8L, 9L -> 8L))
  }

  test("clusters: distributed loop (gate off) matches the bounded union-find path") {
    import spark.implicits._
    // chain + pair + triangle + singleton-free graph; force both branches
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L),
      (11L, 12L), (12L, 13L), (11L, 13L))
      .toDF("id_a", "id_b")
    val local = graft.ops.Dedup.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = graft.ops.Dedup.clusters(pairs, localSolveMaxEdges = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
    assert(dist(5L) == 1L && dist(13L) == 11L)
  }

  test("clusters: string ids solve locally with lexicographic min roots") {
    import spark.implicits._
    val pairs = Seq(("b", "c"), ("c", "a"), ("x", "y")).toDF("id_a", "id_b")
    val got = graft.ops.Dedup.clusters(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("keepBest: highest score wins per cluster, ties break low, singletons self-keep") {
    import spark.implicits._
    val docs = Seq(
      (1L, 10L), (2L, 30L), (3L, 30L), // cluster A: 2 and 3 tie on score -> keep 2
      (8L, 5L), (9L, 50L),             // cluster B: 9 outscores 8
      (20L, 7L)                        // singleton
    ).toDF("doc_id", "score")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (8L, 8L), (9L, 8L))
      .toDF("doc_id", "cluster_id")
    val got = graft.ops.Dedup.keepBest(docs, labels, col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(got == Set(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 1L, 2L, false),
      (8L, 8L, 9L, false), (9L, 8L, 9L, true),
      (20L, 20L, 20L, true)))
  }

  test("nearDedup: LSH block + jaccard verify + cluster + keep longest") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val docs = Seq(
      (1L, base + " bank"),
      (2L, base + " bank today"),              // near-dup of 1, longer -> kept
      (3L, base + " bank"),                    // exact dup of 1
      (4L, "completely different content about catalyst optimizer rules engine here")
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")).cast("long"))
    val byDoc = Dedup.nearDedup(docs, score = col("n_chars"), threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(byDoc(1L) == (2L, false)) // loses to the longer near-dup
    assert(byDoc(2L) == (2L, true))
    assert(byDoc(3L) == (2L, false))
    assert(byDoc(4L) == (4L, true))  // singleton keeps itself
    // at tau = 1.0 only the exact dup verifies: the longer near-dup stands
    // alone and 1/3 resolve between themselves
    val exactOnly = Dedup.nearDedup(docs, score = col("n_chars"), threshold = 1.0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(exactOnly(2L) && exactOnly(4L))
    assert(exactOnly(1L) != exactOnly(3L)) // one of the exact pair survives
    intercept[IllegalArgumentException] {
      Dedup.nearDedup(docs, score = col("n_chars"), threshold = 1.1)
    }
  }

  test("corpusJaccard: exact pairwise overlap of source shingle sets") {
    // source A: shingles {a b c, b c d}; B: {a b c, b c e}; C: {x y z}
    // A∩B = {a b c} → J = 1/3; C shares nothing → no row
    val docs = Seq(
      (1L, "A", "a b c d"),
      (2L, "B", "a b c e"),
      (3L, "C", "x y z"),
      (4L, "A", "a b c")   // duplicate shingle within A must not inflate the set
    ).toDF("doc_id", "source", "text")
    val out = Dedup.corpusJaccard(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(("A", "B", 1L, 2L, 2L, 1.0 / 3.0)))
  }

  test("corpusDiff: added/removed/changed detected, unchanged suppressed") {
    import spark.implicits._
    val v1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val v2 = Seq((1L, "alpha"),                    // unchanged
      (2L, "beta edited"),                         // changed
      (4L, "delta")).toDF("doc_id", "text")        // added (3 removed)
    val diff = TrainingQueries.corpusDiff(v1, v2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(diff == Set((2L, "changed"), (3L, "removed"), (4L, "added")))
    // whitespace-variant content is NOT a change (fingerprint normalizes)
    val v2b = Seq((1L, " alpha "), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    assert(TrainingQueries.corpusDiff(v1, v2b).count() == 0)
  }

  test("clusters: empty candidate-pair input yields an empty result, no crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(graft.ops.Dedup.clusters(empty).count() == 0L)
  }

  test("clusters: randomized graphs match a union-find reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(150)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2)
    // union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = nodes.map(n => n -> {
      // root is the minimum of the component by construction of the merges?
      // no — derive the true min per component explicitly
      n -> find(n)
    }).map(_._2).groupBy(_._2).flatMap { case (_, members) =>
      val ids = members.map(_._1)
      val m = ids.min
      ids.map(_ -> m)
    }
    val got = graft.ops.Dedup.clusters(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("simhash: identical docs equal; unrelated docs differ") {
    val sh = Dedup.simhash(corpus).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(4L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // near-dup differs in far fewer bits than unrelated text
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
  }

  test("ngram jaccard: identity pair = 1.0, near-dup high, disjoint absent") {
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(corpus, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.5 && j((1L, 3L)) < 1.0)
    assert(!j.contains((1L, 4L))) // no shared shingles → no row

    // pair-scoping (shingle only the paired docs) changes nothing but cost
    val unscoped = Dedup.ngramJaccard(corpus, pairs, scopeToPairs = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(unscoped == j)
  }

  val vecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f)),
    (1L, Array(0f, 1f, 0f, 0f)),
    (2L, Array(0.9f, 0.1f, 0f, 0f)),
    (3L, Array(-1f, 0f, 0f, 0f)),
    (4L, Array(0.5f, 0.5f, 0f, 0f))
  ).toDF("vec_id", "embedding")

  test("bruteTopK: self first, near vector second, opposite last") {
    val q = vecs.where($"vec_id" === 0).select($"embedding".as("qv"))
    val top = Ann.bruteTopK(vecs, q, 5).collect().map(_.getLong(0)).toSeq
    assert(top.head == 0L)
    assert(top(1) == 2L)
    assert(top.last == 3L)
  }

  test("IVF assign: centroid members assign to themselves") {
    val cents = vecs.where($"vec_id" < 2)
      .select($"vec_id".as("centroid_id"), $"embedding".as("cv"))
    val a = Ann.assign(vecs, cents).select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a(0L) == 0L && a(1L) == 1L)
    assert(a(2L) == 0L) // near x-axis
    assert(a(4L) == 0L) // tie cos(45°) → lowest centroid id wins
  }

  test("signBucket is deterministic and bounded") {
    val b = vecs.select(Similarity.signBucket($"embedding", 4).as("b"))
      .collect().map(_.getLong(0))
    assert(b.forall(x => x >= 0 && x < 16))
  }

  test("incrementalCandidates == full-corpus candidates touching the batch") {
    val old = corpus.where($"doc_id" <= 3)
    val batch1 = corpus.where($"doc_id" === 4 || $"doc_id" === 5)
    val tbl = "graft_test_band_index"
    Dedup.writeBandIndex(old, tbl, numBuckets = 4)
    val full = Dedup.minhashCandidates(Dedup.minhash(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want1 = full.filter(p => p._1 >= 4 || p._2 >= 4)
    val got1 = Dedup.incrementalCandidates(batch1, tbl)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got1 == want1, s"got $got1, want $want1")
    assert(got1.contains((1L, 5L))) // ws-variant of 1 found across the index boundary
    spark.sql(s"DROP TABLE $tbl")
  }

  test("incremental band join never re-shuffles the bucketed index side") {
    val tbl = "graft_test_band_index_plan"
    Dedup.writeBandIndex(corpus.where($"doc_id" <= 3), tbl, numBuckets = 4)
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // forbid broadcast so the join MUST pick a partitioned strategy —
      // the only hash exchange allowed is then the new-batch side
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val sig = Dedup.minhash(corpus.where($"doc_id" >= 4))
      val newBands = sig.select($"doc_id", explode(array($"band0", $"band1")).as("band"))
      val joined = newBands.join(spark.table(tbl).withColumnRenamed("doc_id", "old_id"), "band")
      val plan = joined.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles == 1, s"want exactly 1 shuffle (the batch side), got $shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      spark.sql(s"DROP TABLE $tbl")
    }
  }

  test("prefixFilterJoin equals brute-force all-pairs ground truth") {
    // ground truth: exact Jaccard over EVERY pair (no filtering at all)
    val ids = corpus.select("doc_id").as[Long].collect().sorted
    val allPairs = (for (a <- ids; b <- ids if a < b) yield (a, b))
      .toSeq.toDF("id_a", "id_b")
    for (tau <- Seq(0.5, 0.9)) {
      val truth = Dedup.ngramJaccard(corpus, allPairs, scopeToPairs = false)
        .where($"jaccard" >= tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val got = Dedup.prefixFilterJoin(corpus, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == truth, s"tau=$tau: got $got, want $truth")
      assert(truth.nonEmpty) // the fixture must actually exercise the join
    }
  }

  test("prefixFilterJoin: duplicate cliques keep full pair recall") {
    // The adversarial corpus shape from SCALE.md, miniaturized: a 40-doc
    // identical clique plus 5 replica families of 4. An exact-recall join
    // MUST return every within-clique pair at jaccard exactly 1.0 — the
    // pre-round-9 implementation silently dropped most of a large
    // clique's pairs once its prefix-shingle buckets got deep.
    val clique = (1L to 40L).map(i =>
      (i, "alpha bravo charlie delta echo foxtrot golf hotel india juliett"))
    val families = (0 until 5).flatMap { f =>
      (0 until 4).map(c =>
        (100L + f * 10 + c, s"unique$f wordsx$f wordsy$f wordsz$f wordsw$f tail$f"))
    }
    val d = (clique ++ families).toDF("doc_id", "text")
    val got = Dedup.prefixFilterJoin(d, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // forced pairs: C(40,2) clique + C(4,2) x 5 families, all at J = 1.0;
    // clique and family texts share no shingles, so nothing else pairs
    assert(got.length == 40 * 39 / 2 + 5 * 6, s"got ${got.length} pairs")
    assert(got.forall(_._3 == 1.0))
    assert(got.forall(p => p._1 < p._2))
    assert(got.distinct.length == got.length, "no duplicate pairs")
  }

  test("prefixFilterJoin: tau boundary is inclusive, above-tau excluded") {
    // 3 shingles each, 2 shared -> jaccard exactly 2/4 = 0.5
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5"),
      (2L, "w1 w2 w3 w4 w6")
    ).toDF("doc_id", "text")
    val at = Dedup.prefixFilterJoin(d, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(at == Seq((1L, 2L, 0.5)))
    assert(Dedup.prefixFilterJoin(d, tau = 0.51).collect().isEmpty)
  }

  // local ground truth for containmentJoin: the same ws tokenization +
  // 3-shingle sets as the engine (TextAnalysis.tokens mirror), brute over
  // every ORDERED pair
  private def containmentTruth(docs: Seq[(Long, String)], tau: Double) = {
    val sets = docs.map { case (id, t) =>
      id -> t.trim.split("[ \t\n\f\r]+").toSeq.sliding(3)
        .filter(_.length == 3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    (for ((a, sa) <- sets; (b, sb) <- sets if a != b;
          c = (sa & sb).size.toDouble / sa.size if c >= tau)
      yield (a, b, c)).toSet
  }

  test("containmentJoin equals brute-force ordered-pair ground truth") {
    val docs = corpus.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    for (tau <- Seq(0.5, 0.9)) {
      val truth = containmentTruth(docs, tau)
      val got = Dedup.containmentJoin(corpus, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == truth, s"tau=$tau: got $got, want $truth")
      assert(truth.nonEmpty)
    }
  }

  test("containmentJoin finds a quote invisible to the Jaccard join") {
    // doc 1 is quoted verbatim inside doc 2, which is ~4x longer: the
    // directed containment 1 -> 2 is exactly 1.0 while the Jaccard is
    // far below it — the asymmetric case the symmetric join cannot see.
    val host = "alpha bravo charlie delta echo " +
      "foxtrot golf hotel india juliett kilo lima mike november oscar " +
      "papa quebec romeo sierra tango uniform victor whiskey xray yankee"
    val d = Seq(
      (1L, "foxtrot golf hotel india juliett"),
      (2L, host)
    ).toDF("doc_id", "text")
    val got = Dedup.containmentJoin(d, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 1.0)), s"got $got")
    assert(Dedup.prefixFilterJoin(d, tau = 0.9).collect().isEmpty)
  }

  test("containmentJoin: duplicate cliques report both directions") {
    val clique = (1L to 12L).map(i =>
      (i, "alpha bravo charlie delta echo foxtrot golf hotel"))
    val lone = Seq((100L, "unrelated words entirely disjoint from those"))
    val d = (clique ++ lone).toDF("doc_id", "text")
    val got = Dedup.containmentJoin(d, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 12 * 11, s"got ${got.length} ordered pairs")
    assert(got.forall(_._3 == 1.0))
    assert(got.forall(p => p._1 != p._2))
    assert(got.distinct.length == got.length, "no duplicate ordered pairs")
  }

  test("containmentJoin: tau boundary is inclusive, above-tau excluded") {
    // a has 3 shingles, 2 of them inside b -> containment(a->b) = 2/3
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5"),
      (2L, "w1 w2 w3 w4 x1 x2 x3 x4 x5 x6")
    ).toDF("doc_id", "text")
    val twoThirds = 2.0 / 3.0
    val at = Dedup.containmentJoin(d, tau = twoThirds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(at == Set((1L, 2L, twoThirds)), s"got $at")
    assert(Dedup.containmentJoin(d, tau = 0.67).collect().isEmpty)
  }

  test("bruteTopKBatch matches per-query bruteTopK for every query") {
    val queries = vecs.where($"vec_id".isin(0L, 1L, 3L))
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val batch = Ann.bruteTopKBatch(vecs, queries, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(x => (-x._3, x._2)).toSeq).toMap
    assert(batch.keySet == Set(0L, 1L, 3L))
    for (qid <- Seq(0L, 1L, 3L)) {
      val single = Ann.bruteTopK(vecs,
          vecs.where($"vec_id" === qid).select($"embedding".as("qv")), k = 3)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single, s"query $qid diverged")
    }
  }

  test("ivfTopKBatch matches per-query ivfTopK; recallAtK scores hits and misses") {
    val cents = vecs.where($"vec_id".isin(0L, 1L))
      .select($"vec_id".as("centroid_id"), $"embedding".as("cv"))
    val assigned = Ann.assign(vecs, cents)
      .select($"vec_id", $"centroid_id", $"embedding")
    val queries = vecs.where($"vec_id".isin(0L, 3L))
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val batch = Ann.ivfTopKBatch(assigned, cents, queries, k = 2, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(x => (-x._3, x._2)).toSeq).toMap
    assert(batch.keySet == Set(0L, 3L))
    for (qid <- Seq(0L, 3L)) {
      val single = Ann.ivfTopK(assigned, cents,
          vecs.where($"vec_id" === qid).select($"embedding".as("qv")),
          k = 2, nprobe = 1)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single, s"query $qid diverged")
    }

    // recallAtK: full overlap → 1.0; zero overlap → 0 hits via the left
    // join (the query must still appear); partial overlap → ratio
    val exact = Seq((0L, 10L), (0L, 11L), (9L, 1L), (9L, 2L), (5L, 7L), (5L, 8L))
      .toDF("query_id", "vec_id")
    val approx = Seq((0L, 10L), (0L, 11L), (9L, 3L), (9L, 4L), (5L, 7L), (5L, 9L))
      .toDF("query_id", "vec_id")
    val rec = Ann.recallAtK(exact, approx)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rec == Map(0L -> ((2L, 2L, 1.0)), 9L -> ((2L, 0L, 0.0)), 5L -> ((2L, 1L, 0.5))))
  }

  test("mmrTopK penalizes redundancy: near-dup cluster members are displaced") {
    // query between the x-heavy cluster {0,2} and the diagonal 4: pure
    // relevance ranks (4, 2, 0) — all from the same half-plane; MMR at
    // λ=0.5 keeps the argmax 4, prefers the less-similar 0 over the
    // near-dup 2 at rank 2, and at rank 3 the anti-correlated 3 wins
    // outright (negative max-similarity penalty BOOSTS it) — the
    // near-dup never makes the cut
    val q = Seq(Tuple1(Array(0.8f, 0.6f, 0f, 0f))).toDF("qv")
    val rel = Ann.bruteTopK(vecs, q, 3).collect().map(_.getLong(0)).toSeq
    assert(rel == Seq(4L, 2L, 0L))
    val mmr = Ann.mmrTopK(vecs, q, k = 3, lambdaWeight = 0.5, pool = 5)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(mmr == Seq(4L, 0L, 3L), s"got $mmr")
    assert(!mmr.contains(2L), "near-dup of a chosen doc must be displaced")
    val ranks = Ann.mmrTopK(vecs, q, k = 3, lambdaWeight = 0.5, pool = 5)
      .select("rank").collect().map(_.getInt(0)).toSeq
    assert(ranks.sorted == Seq(1, 2, 3))
  }

  test("mmrTopK at λ=1 is exactly relevance order") {
    val q = vecs.where($"vec_id" === 0).select($"embedding".as("qv"))
    val rel = Ann.bruteTopK(vecs, q, 4).collect().map(_.getLong(0)).toSeq
    val mmr = Ann.mmrTopK(vecs, q, k = 4, lambdaWeight = 1.0, pool = 5)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(mmr == rel)
  }

  test("cosineExact matches cosineFast to double noise") {
    val q = vecs.where($"vec_id" === 0).select($"embedding".as("qv"))
    val both = vecs.crossJoin(broadcast(q)).select(
      Similarity.cosineExact($"embedding", $"qv").as("e"),
      Similarity.cosineFast($"embedding", $"qv").as("f")).collect()
    both.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-6))
  }

  test("simhashCandidates: blocked pairs EQUAL brute-force hamming<=3 pairs " +
       "on a seeded near-dup corpus (exact recall via 4x16 pigeonhole)") {
    // 40 base docs of ~400 random tokens; each gets a variant with one
    // token appended — the vote sums shift by ±1 per bit, flipping only
    // bits whose sum sat at 0/±1, so variants land a few hamming bits away
    // (some within <=3, exercising the recall path) — plus exact dups
    // (hamming 0) and unrelated docs.
    val rnd = new scala.util.Random(11)
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
      "pi", "rho", "sigma", "tau", "upsilon")
    val docs = (0 until 40).flatMap { i =>
      val base = Seq.fill(400)(words(rnd.nextInt(words.length))).mkString(" ")
      Seq((i * 3L, base),
        (i * 3L + 1, base + " " + words(rnd.nextInt(words.length))),
        (i * 3L + 2, base)) // exact dup of base
    }.toDF("doc_id", "text")
    val sig = Dedup.simhashBlocks(docs).cache()
    val blocked = Dedup.simhashCandidates(sig)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force over the full signature table (test-only; 118 docs)
    val sigs = sig.select("doc_id", "simhash").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib) -> h.toLong).toMap
    assert(blocked == brute)
    assert(brute.values.exists(_ == 0), "corpus must contain exact dups")
    assert(brute.values.exists(h => h >= 1 && h <= 3),
      "corpus must contain non-identical near-dups within hamming 3")
    sig.unpersist()
  }

  test("minhashCandidates: oversized-band guard diverts a degenerate " +
       "boilerplate band instead of going quadratic inside it") {
    // 200 identical boilerplate docs (all 4 minhash slots equal -> both
    // bands shared by all 200) + the 5-doc corpus above
    val boiler = (100L until 300L).map(i => (i, "shared boilerplate text " +
      "repeated verbatim across the whole crawl corpus every single time"))
    val docs = (corpus.collect().map(r => (r.getLong(0), r.getString(1))) ++ boiler)
      .toSeq.toDF("doc_id", "text")
    val sig = Dedup.minhash(docs)
    val over = Dedup.oversizedBands(sig, maxBandPopulation = 50)
      .collect().map(r => r.getLong(1))
    assert(over.length == 2 && over.forall(_ == 200L)) // band0 + band1
    val pairs = Dedup.minhashCandidates(sig, maxBandPopulation = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // boilerplate pairs diverted (200*199/2 of them); organic dups kept
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 >= 100L))
    // the guard is opt-in: the default diverts nothing
    val unguarded = Dedup.minhashCandidates(sig)
    assert(unguarded.where($"id_a" >= 100L).count() == 200L * 199 / 2)
  }

  test("lshCandidatePairs: multi-probe recovers bucket-hamming-1 pairs, " +
       "excludes hamming-2, never duplicates a pair") {
    // 16+ dims so the full 16-bit bucket is defined; sign pattern of dims
    // 0..15 IS the bucket
    def v(signs: Int*): Array[Float] = {
      val a = Array.fill(18)(0.5f)
      signs.foreach(i => a(i) = -0.5f)
      a
    }
    val evecs = Seq(
      (0L, v()),      // bucket 0xFFFF
      (1L, v()),      // same bucket (hamming 0)
      (2L, v(3)),     // hamming 1 -> candidate via probe
      (3L, v(3, 7)),  // hamming 2 from 0L -> NOT a candidate of 0/1
      (4L, v(7))      // hamming 1 of 0L; hamming 2 of 2L
    ).toDF("vec_id", "embedding")
    val got = Ann.lshCandidatePairs(evecs, bits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.distinct.size == got.size, "a pair must match exactly one probe")
    val set = got.toSet
    assert(set.contains((0L, 1L)) && set.contains((0L, 2L)) && set.contains((0L, 4L)))
    assert(set.contains((1L, 2L)) && set.contains((1L, 4L)))
    assert(set.contains((2L, 3L)) && set.contains((3L, 4L))) // hamming 1 each
    assert(!set.contains((0L, 3L)) && !set.contains((2L, 4L))) // hamming 2
  }

  test("k-means training recovers planted clusters") {
    import org.apache.spark.sql.functions.col
    // two tight clusters around +x and +y, plus the 4 seed vectors
    val pts = (0 until 20).map { i =>
      val noise = (i % 5) * 0.01f
      if (i % 2 == 0) (i.toLong, Array(1f, noise, 0f, 0f))
      else (i.toLong, Array(noise, 1f, 0f, 0f))
    }
    val vdf = pts.toDF("vec_id", "embedding")
    val cents = Ann.trainCentroids(vdf, k = 2, iterations = 5)
    assert(cents.count() == 2)
    val assigned = Ann.assign(vdf, cents).select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    // all even ids together, all odd ids together
    val evenClusters = pts.filter(_._1 % 2 == 0).map(p => assigned(p._1)).toSet
    val oddClusters = pts.filter(_._1 % 2 == 1).map(p => assigned(p._1)).toSet
    assert(evenClusters.size == 1 && oddClusters.size == 1)
    assert(evenClusters != oddClusters)
  }

  test("curate pipeline: dup, quality, contaminated, kept branches with first-fail precedence") {
    import org.apache.spark.sql.functions.col
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ") // ~8 chars/word
    val benchRun = "alpha beta gamma delta epsilon zeta eta theta"
    val longA = words("dupword", 40)      // ≥250 chars, quality ≥ 0.5
    val rows = Seq(
      (0L, "bench", s"$benchRun iota kappa lambda mu nu xi"), // benchmark doc
      (10L, "s1", longA),                                // keeper of the dup pair
      (11L, "s1", longA),                                // exact dup -> 'dup'
      (12L, "s1", s"${words("fill", 16)} $benchRun ${words("tail", 16)}"), // contaminated
      (13L, "s1", "tiny low quality text"),              // quality < 0.5
      (14L, "s1", words("unique", 40))                   // kept
    ).toDF("doc_id", "source", "text")
    val got = TrainingQueries.curate(rows, benchBelow = 5L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    //                        n_docs  n_dup  n_quality  n_contam  n_kept
    assert(got == Map("s1" -> (5L,    1L,    1L,        1L,       2L)))
  }

  test("persistent IVF index: search prunes to probed partitions and ranks correctly") {
    import org.apache.spark.sql.functions.col
    val pts = (0 until 40).map { i =>
      val noise = (i % 5) * 0.01f
      if (i % 2 == 0) (i.toLong, Array(1f, noise, 0f, 0f))
      else (i.toLong, Array(noise, 1f, 0f, 0f))
    }
    val vdf = pts.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf-index").toString
    Ann.buildIvfIndex(vdf, dir, k = 2, iterations = 5)

    val q = Seq(Tuple1(Array(1f, 0.02f, 0f, 0f))).toDF("qv")
    val hits = Ann.searchIvfIndex(spark, dir, q, k = 5, nprobe = 1)
    val ids = hits.collect().map(_.getLong(0)).toSeq
    assert(ids.size == 5 && ids.forall(_ % 2 == 0)) // the +x cluster only

    // pruning is real: the probe ids arrive as a LITERAL partition filter
    // (listing-time pruning), one id at nprobe=1, both at nprobe=2
    def probedPartitions(nprobe: Int): Int = {
      val ex = Ann.searchIvfIndex(spark, dir, q, k = 5, nprobe = nprobe)
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
        .findFirstMatchIn(ex).map(_.group(1))
      assert(pf.nonEmpty,
        "no PartitionFilters in the scan:\n" +
          ex.linesIterator.filter(_.contains("Partition")).mkString("\n"))
      // a 1-element probe set plans as an equality, wider sets as IN (...)
      "IN \\(([^)]*)\\)".r.findFirstMatchIn(pf.get)
        .map(_.group(1).split(",").length)
        .orElse("= -?\\d+".r.findFirstIn(pf.get).map(_ => 1))
        .getOrElse(fail(s"no literal partition predicate in: ${pf.get}"))
    }
    assert(probedPartitions(1) == 1)
    assert(probedPartitions(2) == 2)
    // nprobe=2 scans both clusters and still ranks the +x cluster on top
    val all = Ann.searchIvfIndex(spark, dir, q, k = 5, nprobe = 2)
    assert(all.collect().map(_.getLong(0)).toSeq == ids)

    val q2 = Seq(Tuple1(Array(0.9f, 0.1f, 0f, 0f))).toDF("qv")
    val after = Ann.searchIvfIndex(spark, dir, q2, k = 5, nprobe = 1)
      .collect().map(_.getLong(0)).toSeq

    // IVF-SQ8: with rerank >= bucket size the exact-rescored answer is
    // IDENTICAL to the float search (same candidates, same kernel)
    val sq8 = Ann.searchIvfIndexInt8(spark, dir, q2, k = 5, nprobe = 1,
      rerank = 100)
    val sq8Rows = sq8.collect()
    assert(sq8Rows.map(_.getLong(0)).toSeq == after,
      "SQ8 rescored top-k must match the float search")
    // the candidate scan reads codes only: exactly one of the two corpus
    // scans carries the embedding column in its ReadSchema
    val ex = sq8.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val schemas = "ReadSchema: (.*)".r.findAllMatchIn(ex).map(_.group(1)).toSeq
    assert(schemas.count(_.contains("embedding")) == 1 &&
      schemas.exists(s => s.contains("q8") && !s.contains("embedding")),
      s"candidate scan must be code-only; ReadSchemas: $schemas")
  }

  test("repeated-substring spans: corpus-first survives, islands merge") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c x y z d e f"),     // corpus-first "x y z" (start 3) — kept
      (2L, "q w e x y z r t"),       // one marked occurrence
      (3L, "x y z x y z tail1 tail2"), // two adjacent occurrences → one island
      (4L, "aa bb")                  // shorter than k → contributes nothing
    ).toDF("doc_id", "text")

    val stats = Dedup.duplicatedSpanStats(docs, k = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(stats == Set((2L, 1L, 3L), (3L, 1L, 6L)),
      "doc1 keeps the first occurrence; doc3's adjacent spans merge to one island")
  }

  test("repeated-substring spans: packed first-occurrence min == window-rank reference") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // The r13 optimization replaced min(struct(id, start)) with a hash-
    // aggregable packed decimal (id·10^10 + start) and keyed the anti-join
    // on (gram, packed). This property pins bit-equivalence against the
    // declarative reference — every gram occurrence except the global
    // (id, start)-lexicographic first — on random corpora with shared
    // fragments and ids spread across the long range (negatives included:
    // packing must stay order-preserving and injective there too).
    val rnd = new scala.util.Random(13)
    val vocab = Vector("a", "b", "c", "d", "e")
    val ids = Seq(-3000000007L, -2L, 0L, 1L, 5L, 4000000009L)
    val docs = ids.map { id =>
      val n = 3 + rnd.nextInt(10)
      (id, Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val k = 3
    val got = graft.ops.Dedup.duplicatedSpans(docs, k)
      .as[(Long, Int, Int)].collect().toSet
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("_l"))
      .where(size(col("_l")) >= k)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("_l")) - k),
        i => md5(concat_ws(" ", slice(col("_l"), i + 1, lit(k))))))
        .as(Seq("start", "_g")))
    val ref = grams
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_g").orderBy(col("doc_id"), col("start"))))
      .where(col("_rn") > 1)
      .select(col("doc_id"), col("start"), (col("start") + k).as("end"))
      .as[(Long, Int, Int)].collect().toSet
    assert(got == ref,
      s"packed-min spans diverge from the window reference: " +
        s"extra=${(got -- ref).take(5)} missing=${(ref -- got).take(5)}")
  }

  test("repeated-substring spans: STRING ids take the min(struct) fallback, not the packed cast") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // ADVICE r13 (medium): a string id cast to decimal is NULL (non-ANSI),
    // so the packed-decimal path would anti-join on a NULL key and flag
    // EVERY occurrence — including each gram's first — as duplicated. The
    // dtype guard must route non-integral ids through the lexicographic
    // min(struct) fallback and reproduce the window-rank reference.
    val docs = Seq(
      ("doc-b", "a b c d a b c"), // self-repeat of "a b c"
      ("doc-a", "a b c x y z"),   // lexicographically first id
      ("doc-c", "x y z q q q")
    ).toDF("doc_id", "text")
    val k = 3
    val got = graft.ops.Dedup.duplicatedSpans(docs, k)
      .as[(String, Int, Int)].collect().toSet
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("_l"))
      .where(size(col("_l")) >= k)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("_l")) - k),
        i => md5(concat_ws(" ", slice(col("_l"), i + 1, lit(k))))))
        .as(Seq("start", "_g")))
    val ref = grams
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_g").orderBy(col("doc_id"), col("start"))))
      .where(col("_rn") > 1)
      .select(col("doc_id"), col("start"), (col("start") + k).as("end"))
      .as[(String, Int, Int)].collect().toSet
    assert(got == ref,
      s"string-id fallback diverges: extra=${(got -- ref).take(5)} " +
        s"missing=${(ref -- got).take(5)}")
    // the first occurrences must NOT be flagged (the NULL-pk failure mode)
    assert(!got.contains(("doc-a", 0, 3)))
  }

  test("semantic dedup: intra-cluster near-dups drop, cross-cluster twins survive") {
    import spark.implicits._
    // two well-separated clusters (+x-ish, +y-ish): 11/12 are near-dups of
    // 10 inside cluster 0; cluster 1 holds 20, the distant 21 (cos≈0.1),
    // and 30 = 2×(unit y), which assigns to centroid 1 and must drop
    // against 20 (cos = 1.0 despite the different magnitude).
    val vecs = Seq(
      (10L, Array(1f, 0f, 0f)),
      (11L, Array(0.99f, 0.1f, 0f)),   // near-dup of 10 in cluster 0
      (12L, Array(0.98f, -0.1f, 0f)),  // near-dup of 10 in cluster 0
      (20L, Array(0f, 1f, 0f)),
      (21L, Array(0f, 0.1f, 1f)),      // cluster 1 but far from 20 (cos≈0.1)
      (30L, Array(0f, 2f, 0f))         // same direction as 20 → drops vs 20
    ).toDF("vec_id", "embedding")
    val cents = Seq((0, Array(1f, 0f, 0f)), (1, Array(0f, 1f, 0f)))
      .toDF("centroid_id", "cv")

    val pairs = Dedup.semanticPairs(vecs, cents, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // pairwise work never crosses clusters: 10-vs-20 (cos 0) is not even scored
    assert(pairs == Set((10L, 11L), (10L, 12L), (11L, 12L), (20L, 30L)))

    val kept = Dedup.semanticDedup(vecs, cents, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(10L, 20L, 21L), "lowest id survives each near-dup set")
  }

  test("clusters: string ids converge in the DISTRIBUTED loop too") {
    // force the distributed path (gate 0): a 5-node chain needs several
    // pointer-doubling rounds — the old label-SUM convergence check
    // nulled string labels under the decimal cast and declared
    // convergence after ONE round, silently splitting this chain
    val pairs = Seq(("e", "d"), ("d", "c"), ("c", "b"), ("b", "a"))
      .toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs, localSolveMaxEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "a"))
  }

  test("keepBest and nearDedup work with string ids and a custom id column") {
    val docs = Seq(
      ("k1", "the quick brown fox jumps over the lazy dog entirely"),
      ("k2", "the quick brown fox jumps over the lazy dog entirely"),
      ("k9", "absolutely unrelated content lives here on its own")
    ).toDF("key", "body")
    // keep the LONGEST text per cluster; ids are strings (the old argmax
    // negated the id column, which nulls out on strings and kept
    // everything)
    val out = graft.ops.Dedup.nearDedup(docs, length(col("body")),
        idCol = "key", textCol = "body")
      .collect().map(r => r.getString(0) -> (r.getString(2), r.getBoolean(3))).toMap
    assert(out("k1") == ("k1", true))  // tie on length -> lowest id keeps
    assert(out("k2") == ("k1", false))
    assert(out("k9") == ("k9", true))
  }

  test("similarDocs: exact Jaccard ranking against one query doc") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "the quick brown fox sat still all day long"),  // partial overlap
      (4L, "completely different words entirely here now"), // zero overlap
      (5L, "the quick brown fox jumps over the lazy dog")  // exact copy of 1
    ).toDF("doc_id", "text")
    val q = docs.where(col("doc_id") === 1)
    val got = Dedup.similarDocs(docs, q, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    // exact copy ranks first at 1.0; zero-overlap doc 4 and the query doc
    // itself are absent
    assert(got.head == (5L -> 1.0))
    assert(got.map(_._1).toSeq == Seq(5L, 2L, 3L))
    // doc 2 shares 6 of its 7 shingles with doc 1 (7 each, union 8)
    assert(math.abs(got(1)._2 - 6.0 / 8.0) < 1e-12)

    // multi-row query is rejected up front
    intercept[IllegalArgumentException] {
      Dedup.similarDocs(docs, docs.where(col("doc_id") <= 2), k = 3)
    }
    // a query doc too short to shingle fails loudly, not with 0 rows
    val short = Seq((9L, "two words")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.similarDocs(docs, short, k = 3)
    }
  }

  test("shingleGroupsTable: persisted artifact reproduces the exact-pair family, " +
       "rebuilds only on source change") {
    val base = java.nio.file.Files.createTempDirectory("graft-shingle").toString
    val srcDir = s"$base/documents.parquet"
    val artDir = s"$base/groups"
    corpus.write.mode("overwrite").parquet(srcDir)
    val docs = spark.read.parquet(srcDir)
    val groups = Dedup.shingleGroupsTable(docs, artDir, srcDir)

    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the artifact-backed forms must equal the direct docs-based forms
    for (tau <- Seq(0.5, 0.9)) {
      assert(pairs(Dedup.prefixFilterJoinGroups(groups, tau)) ==
        pairs(Dedup.prefixFilterJoin(docs, tau)), s"prefix tau=$tau")
      assert(pairs(Dedup.containmentJoinGroups(groups, tau)) ==
        pairs(Dedup.containmentJoin(docs, tau)), s"containment tau=$tau")
    }
    val q = docs.where(col("doc_id") === 1)
    val direct = Dedup.similarDocs(docs, q, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaGroups = Dedup.similarDocsGroups(groups, q, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaGroups == direct)

    // freshness: an unchanged source validates without a rebuild (the
    // artifact's part files keep their mtimes)...
    def artState() = new java.io.File(artDir).listFiles()
      .map(f => (f.getName, f.lastModified())).toSet
    val before = artState()
    Dedup.shingleGroupsTable(docs, artDir, srcDir)
    assert(artState() == before, "unchanged source must not rebuild")
    // ...and a rewritten source forces one (marker fingerprint moves).
    // sleep past local-FS mtime granularity so the rewrite is visible
    Thread.sleep(5)
    corpus.limit(3).write.mode("overwrite").parquet(srcDir)
    val rebuilt = Dedup.shingleGroupsTable(
      spark.read.parquet(srcDir), artDir, srcDir)
    assert(artState() != before, "changed source must rebuild")
    assert(rebuilt.agg(sum(col("_n"))).collect()(0).getLong(0) == 3L)
  }

  test("ngramJaccardGroups over the set artifact equals the direct form") {
    val base = java.nio.file.Files.createTempDirectory("graft-njg").toString
    val srcDir = s"$base/documents.parquet"
    corpus.write.mode("overwrite").parquet(srcDir)
    val docs = spark.read.parquet(srcDir)
    val groups = Dedup.shingleGroupsTable(docs, s"$base/groups", srcDir)
    // every ordered pair, including the no-overlap ones the output omits
    val ids = corpus.select("doc_id").collect().map(_.getLong(0))
    val allPairs = (for { a <- ids; b <- ids if a < b } yield (a, b))
      .toSeq.toDF("id_a", "id_b")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val direct = m(Dedup.ngramJaccard(docs, allPairs, scopeToPairs = false))
    val viaGroups = m(Dedup.ngramJaccardGroups(groups, allPairs))
    assert(viaGroups == direct,
      "artifact-backed jaccard must be value-identical (sets, sort, arithmetic)")
  }

  test("shinglePairsTable: distinct pairs, membership parity, rebuild-once") {
    val base = java.nio.file.Files.createTempDirectory("graft-g8").toString
    val srcDir = s"$base/documents.parquet"
    val artDir = s"$base/gram8"
    // planted REPEATED 3-gram inside one doc: the raw explode has
    // duplicate (doc, gram) rows, the artifact must not
    val docs0 = Seq(
      (1L, "a b c x a b c"), (2L, "a b c d e"), (3L, "q r s t u")
    ).toDF("doc_id", "text")
    docs0.write.mode("overwrite").parquet(srcDir)
    val docs = spark.read.parquet(srcDir)
    val art = Dedup.shinglePairsTable(docs, artDir, srcDir, shingleSize = 3)
    val raw = Dedup.shingles(docs, 3)
    assert(art.count() == art.distinct().count(), "artifact must be distinct")
    assert(art.count() < raw.count(), "the planted repeat must collapse")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pairs(art) == pairs(raw.distinct()), "same distinct membership")
    // unchanged source validates without a rebuild
    def artState() = new java.io.File(artDir).listFiles()
      .map(f => (f.getName, f.lastModified())).toSet
    val before = artState()
    Dedup.shinglePairsTable(docs, artDir, srcDir, shingleSize = 3)
    assert(artState() == before, "unchanged source must not rebuild")
  }
}
