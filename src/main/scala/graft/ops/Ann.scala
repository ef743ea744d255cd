package graft.ops

import graft.functions.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale shapes:
  *   - [[bruteTopK]]: one scan, cosine per row (codegen'd array kernel, no
  *     shuffle), then `TakeOrderedAndProject` — the exact baseline. At
  *     100 TB this is a full scan but embarrassingly parallel; per-partition
  *     top-k keeps only k rows per task in memory.
  *   - [[assign]] / [[ivfTopK]]: IVF — vectors are pre-assigned to their
  *     nearest centroid (one broadcast join against the small centroid set,
  *     no shuffle of the big side beyond the write partitioning); a query
  *     then scans only its centroid's bucket (`nprobe`=1 here), cutting the
  *     scan by the centroid fan-out. Centroid training is out of scope —
  *     any fixed centroid set works (here: a deterministic sample).
  *   - Sign-LSH bucketing ([[Similarity.signBucket]]) is the third path:
  *     bucket co-membership as a candidate filter for near-dup joins.
  */
object Ann {

  /** Exact brute-force top-k by cosine against one query vector (given as a
    * 1-row DataFrame `[qv: array<float>]`). Exact-decimal kernel so results
    * are engine-reproducible.
    */
  def bruteTopK(vectors: DataFrame, query: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    vectors
      .crossJoin(broadcast(query))
      .select(col(idCol),
        graft.functions.CosineSimilarity(col(vecCol), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)

  /** Exact brute-force top-k per query over a query TABLE
    * `[queryIdCol, qv: array<float>]` — the batch-retrieval shape (RAG
    * curation scores a whole eval set, not one vector). The query table
    * broadcasts (bounded by contract, like [[assign]]'s centroids); each
    * corpus row is scored against every query map-side, so the corpus
    * never shuffles on a data key — the only shuffle is the per-query
    * top-k itself, taken via [[Sampling.topKPerKey]]'s salted two-stage
    * rank: per-(query, salt) partial top-k first, so one query's k·salts
    * survivors — not its full corpus-sized score column — reach the
    * final per-query rank. A plain `Window.partitionBy(query)` would
    * funnel the whole corpus through nq tasks at 100 TB; the salted form
    * caps every task at candidate-set size.
    *
    * Returns `(queryIdCol, idCol, cos)`, k rows per query (fewer only if
    * the corpus is smaller than k).
    */
  def bruteTopKBatch(vectors: DataFrame, queries: DataFrame, k: Int,
                     queryIdCol: String = "query_id",
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    Sampling.topKPerKey(
      vectors.crossJoin(broadcast(queries))
        .select(col(queryIdCol), col(idCol),
          graft.functions.CosineSimilarity(col(vecCol), col("qv")).as("cos")),
      key = col(queryIdCol), order = col("cos").desc, tiebreak = col(idCol),
      k = k)

  /** Maximal-Marginal-Relevance rerank (Carbonell & Goldstein, SIGIR '98):
    * diversity-aware top-k. Stage 1 is distributed and bounded — the
    * relevance top-`pool` by the fused cosine kernel, exactly
    * [[bruteTopK]]'s scan shape (map-side score against the broadcast
    * query, TakeOrderedAndProject). Stage 2 is the greedy selection over
    * that pool: `argmax λ·rel(c) − (1−λ)·max_{s∈S} cos(c, s)`, ties to
    * the lowest id — O(k·pool) driver work on ≤ pool rows, the same
    * bounded-collect contract as [[assign]]'s centroid table. Pairwise
    * cosines reuse the kernel's exact accumulation order (ascending
    * sequential double fold), so scores are engine-reproducible and the
    * DuckDB recursive-CTE oracle hash-matches.
    *
    * Like [[bruteTopK]], `query` must be a 1-row DataFrame
    * `[qv: array<float>]`. Returns `(rank, id, mmr)` with rank 1..k in
    * selection order; rank 1's score is `λ·rel` (empty selection set —
    * no penalty term).
    */
  def mmrTopK(vectors: DataFrame, query: DataFrame, k: Int,
              lambdaWeight: Double = 0.5, pool: Int = 32,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && pool >= k, s"need pool ($pool) >= k ($k) >= 1")
    val spark = vectors.sparkSession
    val scored = vectors
      .crossJoin(broadcast(query))
      .select(col(idCol),
        graft.functions.CosineSimilarity(col(vecCol), col("qv")).as("rel"),
        col(vecCol).as("__v"))
      .orderBy(col("rel").desc, col(idCol))
      .limit(pool)
      .collect()
    // the kernel's exact loop: ascending sequential double accumulation
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    final case class Cand(id: Long, rel: Double, v: Seq[Float])
    var rest = scored.toSeq.map(r =>
      Cand(r.get(0).asInstanceOf[Number].longValue(), r.getDouble(1), r.getSeq[Float](2)))
    val sel = Seq.newBuilder[(Int, Long, Double)]
    var chosen = Vector.empty[Cand]
    var rank = 1
    while (rank <= k && rest.nonEmpty) {
      val best = rest.map { c =>
        val penalty =
          if (chosen.isEmpty) 0.0
          else chosen.iterator.map(s => cos(c.v, s.v)).max
        (c, lambdaWeight * c.rel - (1 - lambdaWeight) * penalty)
      }.minBy { case (c, score) => (-score, c.id) }
      sel += ((rank, best._1.id, best._2))
      chosen :+= best._1
      rest = rest.filterNot(_.id == best._1.id)
      rank += 1
    }
    // parallelize (not a LocalRelation) so the scored plan keeps a
    // distributed leaf (Scan ExistingRDD) — rank is the selection order
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("mmr",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        sel.result().map { case (r, i, m) => org.apache.spark.sql.Row(r, i, m) }, 1),
      schema)
  }

  /** Every vector's max cosine against a bounded reference set — the scan
    * shape of embedding-space decontamination (is any benchmark item
    * semantically too close to this training doc?). The reference table is
    * collected driver-side (its boundedness is the caller's contract — the
    * same tiny-table premise as [[assign]]'s centroids: an eval suite is
    * thousands of rows, never corpus-sized) and folded over as an array
    * literal, so the whole computation is ONE map-side pass: zero shuffle,
    * zero row amplification — a crossJoin + groupBy(max) formulation would
    * amplify the corpus ×|benchmark| and re-shuffle it on its own id for
    * the max. A null vector gets a null `max_cos`.
    *
    * Output: every column of `vectors` plus `outCol` (double). Real
    * cosines are >= -1 (the kernel maps zero norms to 0.0), so the -2.0
    * seed always loses to the first reference vector.
    */
  def maxCosineVs(vectors: DataFrame, benchmark: DataFrame,
                  vecCol: String = "embedding", benchVecCol: String = "qv",
                  outCol: String = "max_cos"): DataFrame = {
    val rows = benchmark.select(col(benchVecCol)).collect()
    require(rows.nonEmpty, "maxCosineVs requires a non-empty benchmark set")
    // NULL benchmark vectors are rejected, not skipped: silently dropping
    // them would fold over a smaller set than the caller shipped, and an
    // all-null set would let the -2.0 seed escape as an impossible
    // "cosine" where the crossJoin+max oracle formulation yields NULL
    require(rows.forall(!_.isNullAt(0)),
      s"maxCosineVs: benchmark column `$benchVecCol` contains NULL vectors")
    val bench: Seq[Seq[Float]] = rows.toSeq.map(_.getSeq[Float](0))
    val best = aggregate(
      typedLit(bench),
      lit(-2.0),
      (acc, b) => greatest(acc, graft.functions.CosineSimilarity(col(vecCol), b)))
    vectors.withColumn(outCol, when(col(vecCol).isNotNull, best))
  }

  /** Assign every vector to its nearest centroid (argmax cosine; ties →
    * lowest centroid id). The centroid table is collected driver-side
    * (k×dim by contract — the same tiny-table premise as
    * [[searchIvfIndex]]'s probe step) and folded over as an array literal,
    * so assignment is a SINGLE map-side pass: zero shuffle, zero row
    * amplification. (The previous crossJoin + per-id rank window
    * amplified to n×k rows and shuffled the corpus once per call — once
    * per ITERATION inside [[trainCentroids]].)
    *
    * Output: every column of `vectors` plus `centroid_id` (the centroid
    * table's id type) and `cos`. A null vector gets a null assignment.
    */
  def assign(vectors: DataFrame, centroids: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val rows = centroids.select(col("centroid_id"), col("cv")).collect()
    require(rows.nonEmpty, "assign requires a non-empty centroid set")
    val cidType = centroids.schema("centroid_id").dataType
    val cents: Seq[(Long, Seq[Float])] = rows.toSeq
      .map(r => (r.get(0).asInstanceOf[Number].longValue(), r.getSeq[Float](1)))
      .sortBy(_._1) // ascending ids + strict > below = ties break low
    // fold over the k-element literal: real cosines are >= -1 (zero norms
    // yield 0.0), so the -2.0 seed always loses to the first centroid
    val best = aggregate(
      typedLit(cents),
      struct(lit(-2.0).as("cos"), lit(-1L).as("cid")),
      (acc, c) => {
        val cs = graft.functions.CosineSimilarity(col(vecCol), c.getField("_2"))
        when(cs > acc.getField("cos"),
          struct(cs.as("cos"), c.getField("_1").as("cid"))).otherwise(acc)
      })
    vectors
      .withColumn("_best", when(col(vecCol).isNotNull, best))
      .withColumn("centroid_id", col("_best").getField("cid").cast(cidType))
      .withColumn("cos", col("_best").getField("cos"))
      .drop("_best")
  }

  /** IVF search: top-k within the query's `nprobe` nearest centroid
    * buckets (nprobe=1 scans 1/k of the corpus; higher nprobe trades scan
    * for recall, the standard IVF knob). `assigned` is the output of
    * [[assign]] joined back to the vectors (i.e. carries id, centroid_id,
    * embedding).
    */
  def ivfTopK(assigned: DataFrame, centroids: DataFrame, query: DataFrame, k: Int,
              nprobe: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qCentroids = assignQuery(query, centroids, nprobe)
    assigned
      .join(broadcast(qCentroids), Seq("centroid_id"))
      .select(col(idCol), graft.functions.CosineSimilarity(col(vecCol), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Batch IVF top-k over a query TABLE `[queryIdCol, qv]` — the
    * multi-query twin of [[ivfTopK]], shaped like [[bruteTopKBatch]]:
    * each query picks its `nprobe` nearest centroids (queries × k
    * centroids is scalar-sized work over two broadcast-bounded tables),
    * the corpus joins the broadcast `(query, probe-centroid)` table on
    * `centroid_id` so only probed partitions are scored, and the
    * per-query top-k goes through [[Sampling.topKPerKey]]'s salted
    * two-stage rank. The corpus never shuffles on a data key, and the
    * scored fraction is ~`nprobe/k_centroids` of it per query.
    */
  def ivfTopKBatch(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
                   k: Int, nprobe: Int = 1, queryIdCol: String = "query_id",
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = Sampling.topKPerKey(
      queries.crossJoin(broadcast(centroids))
        .select(col(queryIdCol), col("qv"), col("centroid_id"),
          graft.functions.CosineSimilarity(col("qv"), col("cv")).as("_ccos")),
      key = col(queryIdCol), order = col("_ccos").desc,
      tiebreak = col("centroid_id"), k = nprobe)
      .select(col(queryIdCol), col("qv"), col("centroid_id"))
    Sampling.topKPerKey(
      assigned.join(broadcast(probes), Seq("centroid_id"))
        .select(col(queryIdCol), col(idCol),
          graft.functions.CosineSimilarity(col(vecCol), col("qv")).as("cos")),
      key = col(queryIdCol), order = col("cos").desc, tiebreak = col(idCol),
      k = k)
  }

  /** Recall@k of an approximate per-query result against the exact one —
    * the evaluation harness that keeps an ANN configuration honest. Both
    * inputs are `(queryIdCol, idCol, …)` top-k tables (k rows per query);
    * output is one row per query in `exact`: the exact hit count, the
    * approximate hits that landed in the exact set, and the recall ratio.
    * The join key is (query, id): per-query k×k work, never corpus-sized.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame,
                queryIdCol: String = "query_id",
                idCol: String = "vec_id"): DataFrame = {
    val hits = exact.select(col(queryIdCol), col(idCol))
      .join(approx.select(col(queryIdCol), col(idCol)), Seq(queryIdCol, idCol))
      .groupBy(queryIdCol).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(queryIdCol).agg(count(lit(1)).as("exact_k"))
      .join(hits, Seq(queryIdCol), "left")
      .select(col(queryIdCol), col("exact_k"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("exact_k"))
          .as("recall"))
  }

  /** Sign-LSH bucketed ANN search: scan only the vectors sharing the
    * query's sign bucket ([[Similarity.signBucket]] over the leading
    * `bits` dimensions). The training-free counterpart of IVF: no
    * centroid set to learn or broadcast-join against — the bucket is a
    * pure map-side expression on both sides, so the big side is pruned to
    * ~1/2^bits of the corpus before any cosine work. Recall improves by
    * probing neighboring buckets (bit flips), exactly like IVF nprobe.
    */
  def lshTopK(vectors: DataFrame, query: DataFrame, k: Int, bits: Int = 8,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucketed = vectors.select(col(idCol), col(vecCol),
      Similarity.signBucket(col(vecCol), bits).as("_bucket"))
    val q = query.select(col("qv"), Similarity.signBucket(col("qv"), bits).as("_bucket"))
    bucketed.join(broadcast(q), Seq("_bucket"))
      .select(col(idCol),
        graft.functions.CosineSimilarity(col(vecCol), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Symmetric int8 quantization of a float-array column: every element
    * maps to `floor(x·127/max|x|)` ∈ [−127, 127] (all-zero vectors map to
    * all-zero codes). `floor` of an exact IEEE double expression, so codes
    * are engine-exact — no round-half ties whose direction differs per
    * engine. The scale factor itself never needs to be carried for COSINE
    * work: cosine is invariant under per-vector scaling, so quantized
    * cosines divide out both scales.
    */
  def quantizeInt8(vec: Column): Column = {
    val maxabs = array_max(transform(vec, x => abs(x.cast("double"))))
    when(maxabs > 0,
      transform(vec, x => floor(x.cast("double") * lit(127.0) / maxabs)))
      .otherwise(transform(vec, x => lit(0L)))
  }

  /** Exact integer dot product of two long-array columns (codes from
    * [[quantizeInt8]]: |element| ≤ 127, so a 10⁹-dim vector still sits
    * inside a Long).
    */
  private def dotLong(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Int8-quantized ANN with exact rescoring — the memory/IO shape of a
    * quantized vector store (4× smaller codes than float32; at 100 TB the
    * scan reads the int8 code column only and the float column is fetched
    * just for the `rerank` survivors): rank all vectors by QUANTIZED
    * cosine (integer dot products — exact, engine-reproducible — with one
    * double division at the end), keep the top `rerank` candidates
    * (`TakeOrderedAndProject`, no shuffle), then rescore exactly and
    * return the float-precision top `k`. Like [[bruteTopK]], `query` must
    * be a 1-row DataFrame `[qv: array<float>]`.
    *
    * Quantized cosine needs no scale factors (cosine is scale-invariant),
    * and a nonzero vector's code vector is nonzero by construction (its
    * max-|x| element maps to ±127), so the quantized norm is ≥ 127²
    * whenever the float norm is > 0 — no divide-by-zero beyond what the
    * float kernel already has.
    */
  def int8TopK(vectors: DataFrame, query: DataFrame, k: Int, rerank: Int = 40,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank window ($rerank) must be >= k ($k)")
    val q = query.select(col("qv"), quantizeInt8(col("qv")).as("_qq"))
    vectors
      .crossJoin(broadcast(q))
      .withColumn("_eq", quantizeInt8(col(vecCol)))
      .withColumn("cos_q",
        dotLong(col("_eq"), col("_qq")).cast("double") /
          (sqrt(dotLong(col("_eq"), col("_eq")).cast("double")) *
            sqrt(dotLong(col("_qq"), col("_qq")).cast("double"))))
      .orderBy(col("cos_q").desc, col(idCol))
      .limit(rerank)
      .select(col(idCol), col("cos_q"),
        graft.functions.CosineSimilarity(col(vecCol), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Sign-LSH near-dup candidate pairs with single-bit multi-probe:
    * vectors are bucketed by [[Similarity.signBucket]] over `bits`
    * hyperplanes (2^bits keys — at 16 bits the in-bucket pairwise work
    * shrinks as n/65536, surviving a 100× corpus), and a pair is a
    * candidate when the buckets are within hamming distance 1: each
    * vector probes its own bucket plus the `bits` one-bit flips (Lv et
    * al., "Multi-probe LSH", VLDB 2007), recovering the recall a single
    * straddled hyperplane would cost. Pairwise cosine work never leaves a
    * bucket key, and a pair matches exactly one probe (probe values are
    * distinct), so no dedup pass follows the join. Returns
    * `(id_a, id_b, cos)` with `id_a < id_b`; threshold downstream.
    */
  def lshCandidatePairs(vectors: DataFrame, bits: Int = 16,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = vectors.select(col(idCol), col(vecCol),
      Similarity.signBucket(col(vecCol), bits).as("_bucket"))
    val probes = base.select(col(idCol), col(vecCol),
      explode(array(col("_bucket") +:
        (0 until bits).map(i => col("_bucket").bitwiseXOR(lit(1L << i))): _*)).as("_probe"))
    base.as("a").join(probes.as("p"),
        col("a._bucket") === col("p._probe") && col(s"a.$idCol") < col(s"p.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"p.$idCol").as("id_b"),
        graft.functions.CosineSimilarity(col(s"a.$vecCol"), col(s"p.$vecCol")).as("cos"))
  }

  /** Spherical k-means centroid training (Lloyd's iterations with cosine
    * assignment): the real "train" step for the IVF index.
    *
    * Scale shape per iteration: one broadcast of the k×dim centroid set,
    * one map-side cosine+argmax pass over the vectors (no shuffle of the
    * big side), one groupBy(centroid, dim) mean over posexploded elements
    * (shuffle of k×dim partials). Only the k×dim centroid table ever
    * reaches the driver — the standard distributed-k-means layout.
    *
    * Deterministic: initial centroids are the k lowest-id vectors; ties in
    * assignment break toward the lowest centroid id.
    */
  def trainCentroids(vectors: DataFrame, k: Int, iterations: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    // Seed: the k lowest-id vectors (ordering on the ORIGINAL id values —
    // no lossy int cast), re-keyed 0..k-1 DRIVER-SIDE: they are collected
    // for the map-side assign fold anyway, and skipping the rank window
    // keeps single-partition WindowExec out of the training plan entirely.
    val seedRows = vectors.orderBy(col(idCol)).limit(k)
      .select(col(vecCol).as("cv")).collect()
    var centroids = spark.createDataFrame(
      seedRows.toSeq.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(i, r.get(0))
      }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("centroid_id",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        vectors.schema(vecCol).copy(name = "cv"))))

    (0 until iterations).foreach { _ =>
      // assign keeps the vector column — no join-back needed
      val assigned = assign(vectors, centroids, idCol, vecCol)
        .select(col(idCol), col("centroid_id"), col(vecCol))
      val means = assigned
        .select(col("centroid_id"), posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy("centroid_id", "dim")
        // exact decimal accumulation: a double avg would depend on
        // partition/accumulation order across runs (same pattern as
        // Queries.dsum / Similarity.dotExact)
        .agg(avg(col("x").cast(org.apache.spark.sql.types.DecimalType(20, 9)))
          .cast("double").as("m"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("pairs"))
        .select(col("centroid_id"),
          transform(col("pairs"), p => p.getField("m").cast("float")).as("cv"))
      // empty clusters keep their previous centroid
      centroids = means.unionByName(
        centroids.join(means.select("centroid_id"), Seq("centroid_id"), "left_anti"))
      centroids = spark.createDataFrame(centroids.collect().toSeq.asJava, centroids.schema)
    }
    centroids
  }

  /** Build a persistent IVF index under `dir`: train centroids, assign
    * the corpus, and write it PARTITIONED BY centroid_id (plus the tiny
    * centroid table). The partitioned layout is the point: a search
    * touches only its probed centroids' directories, so scan cost is
    * ~nprobe/k of the corpus at any scale — train once, search many,
    * across jobs.
    */
  def buildIvfIndex(vectors: DataFrame, dir: String, k: Int, iterations: Int = 5,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val centroids = trainCentroids(vectors, k, iterations, idCol, vecCol)
    val assigned = assign(vectors, centroids, idCol, vecCol)
      .select(col(idCol), col("centroid_id"), col(vecCol),
        quantizeInt8(col(vecCol)).as("q8")) // IVF-SQ8 companion codes
    centroids.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    assigned.write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$dir/corpus")
  }

  /** Search a [[buildIvfIndex]] index: pick the query's `nprobe` nearest
    * centroids (a k×dim driver-side computation on the tiny centroid
    * table) and scan ONLY those partitions — the `isin` on the partition
    * column prunes at file-listing time, which the spec asserts via
    * `inputFiles`. Same ranking kernel as [[ivfTopK]].
    *
    * Like [[bruteTopK]], `query` must be a 1-row DataFrame `[qv:
    * array<float>]` — with multiple rows the probe set and the final
    * `limit(k)` would mix queries into one meaningless top-k (enforced
    * with a cheap `limit(2).count()` require up front).
    */
  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                     query: DataFrame, k: Int, nprobe: Int = 1,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(query.limit(2).count() == 1,
      "searchIvfIndex expects a 1-row query DataFrame [qv: array<float>]; " +
        "multi-row queries would mix probe sets and top-k results")
    val centroids = spark.read.parquet(s"$dir/centroids")
    val probeIds = assignQuery(query, centroids, nprobe)
      .select("centroid_id").collect().map(_.getInt(0)).toSeq
    spark.read.parquet(s"$dir/corpus")
      .where(col("centroid_id").isin(probeIds: _*))
      .crossJoin(broadcast(query))
      .select(col(idCol),
        graft.functions.CosineSimilarity(col(vecCol), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** IVF-SQ8 search over a [[buildIvfIndex]] index — the memory/IO shape
    * of FAISS's `IVF…,SQ8`: the candidate scan reads ONLY the int8 code
    * column (`q8`, 4× smaller than the float vectors) from the probed
    * partitions, ranks by quantized cosine (all-integer dots, engine
    * exact — see [[quantizeInt8]]), and only the top-`rerank` survivors
    * fetch their float vectors (a second, partition-pruned, id-joined
    * scan) for the exact rescore. At 100 TB the float column stays on
    * disk for all but `rerank` rows per query.
    *
    * With `rerank` at least the probed-bucket population this returns
    * exactly [[searchIvfIndex]]'s answer (the rescore is the same exact
    * kernel over the same candidate set) — the spec pins that identity.
    * Same 1-row-query contract as [[searchIvfIndex]].
    */
  def searchIvfIndexInt8(spark: SparkSession, dir: String,
                         query: DataFrame, k: Int, nprobe: Int = 1,
                         rerank: Int = 40,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, s"rerank window ($rerank) must be >= k ($k)")
    require(query.limit(2).count() == 1,
      "searchIvfIndexInt8 expects a 1-row query DataFrame [qv: array<float>]; " +
        "multi-row queries would mix probe sets and top-k results")
    val centroids = spark.read.parquet(s"$dir/centroids")
    val probeIds = assignQuery(query, centroids, nprobe)
      .select("centroid_id").collect().map(_.getInt(0)).toSeq
    val qq = query.select(quantizeInt8(col("qv")).as("_qq"))
    def probed = spark.read.parquet(s"$dir/corpus")
      .where(col("centroid_id").isin(probeIds: _*))
    val candidates = probed
      .select(col(idCol), col("q8"))
      .crossJoin(broadcast(qq))
      .select(col(idCol),
        (dotLong(col("q8"), col("_qq")).cast("double") /
          (sqrt(dotLong(col("q8"), col("q8")).cast("double")) *
            sqrt(dotLong(col("_qq"), col("_qq")).cast("double")))).as("cos_q"))
      .orderBy(col("cos_q").desc, col(idCol))
      .limit(rerank)
    candidates
      .join(probed.select(col(idCol), col(vecCol)), Seq(idCol))
      .crossJoin(broadcast(query))
      .select(col(idCol), col("cos_q"),
        graft.functions.CosineSimilarity(col(vecCol), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Product quantization codes (Jégou/Douze/Schmid, "Product
    * quantization for nearest neighbor search", TPAMI 2011): the embedding
    * is split into `m` contiguous subvectors of `dim/m` dims, and each
    * subvector is coded as its nearest codebook entry in that subspace —
    * compressing a float vector to `m` small integers, the memory layout
    * that makes billion-scale ANN indexes fit in RAM.
    *
    * `codebook` is `[centroid_id, vecCol]` full-dim vectors sliced the
    * same way (any fixed deterministic set; train with [[trainCentroids]]
    * per subspace for a real index). Nearness = argmax cosine with ties to
    * the lowest centroid id, reusing the engine-exact kernel.
    *
    * Scale shape: subvector explode and the codebook comparison are
    * map-side (broadcast of m×k sub-centroids, no shuffle of the corpus);
    * the per-(vector, subspace) argmax is a `min(struct(-cos, id))`
    * aggregate — partial-combinable, so only n×m best-rows cross the
    * wire, then one more partial-combinable pivot to `n` code rows.
    * No window sort anywhere.
    */
  /** Explode `df` into one row per (key, subspace, subvector slice). */
  private def pqSubspaces(df: DataFrame, keyCol: String, outKey: String,
                          m: Int, subLen: Int, vecCol: String): DataFrame =
    df.select(col(keyCol).as(outKey), explode(array((0 until m).map(s =>
        struct(lit(s).as("s"), slice(col(vecCol), s * subLen + 1, subLen).as("sv"))): _*))
      .as("_x"))
      .select(col(outKey), col("_x.s").as("s"), col("_x.sv").as("sv"))

  def pqCodes(vectors: DataFrame, codebook: DataFrame, m: Int = 4, dim: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val subLen = dim / m
    require(m * subLen == dim, s"dim=$dim must divide into m=$m subspaces")
    val v = pqSubspaces(vectors, idCol, idCol, m, subLen, vecCol)
    val c = pqSubspaces(codebook, "centroid_id", "centroid_id", m, subLen, vecCol)
      .withColumnRenamed("sv", "cv")
    v.join(broadcast(c), Seq("s"))
      .select(col(idCol), col("s"), col("centroid_id"),
        graft.functions.CosineSimilarity(col("sv"), col("cv")).as("cos"))
      // argmax cosine, ties to lowest centroid id, as a partial-combinable
      // aggregate: lexicographic min over (-cos, centroid_id)
      .groupBy(col(idCol), col("s"))
      .agg(min(struct((-col("cos")).as("nc"), col("centroid_id").as("cid"))).as("best"))
      .groupBy(col(idCol))
      .agg(
        max(when(col("s") === 0, col("best.cid"))).as("code0"),
        (1 until m).map(s =>
          max(when(col("s") === s, col("best.cid"))).as(s"code$s")): _*)
  }

  /** PQ asymmetric-distance (ADC) top-k search over a CODED corpus: the
    * query is sliced per subspace and compared against the codebook once
    * (an m×k lookup table — tiny, broadcast), then each compressed vector
    * is scored by summing its codes' table entries — the query-time path
    * that makes PQ useful: the scan touches only the m small ints per
    * vector, never the original floats (Jégou TPAMI 2011, §IV.A; cosine
    * per subspace here, summed — a monotone similarity surrogate).
    *
    * Scale shape: codes melt map-side, one broadcast join on (s, code),
    * and the per-vector sum is an exact-decimal aggregate
    * (order-independent, engine-reproducible) feeding TakeOrdered — the
    * corpus never shuffles except the n×m → n partial-combinable sum.
    */
  def pqAdcTopK(codes: DataFrame, codebook: DataFrame, query: DataFrame, k: Int,
                m: Int = 4, dim: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val subLen = dim / m
    require(m * subLen == dim, s"dim=$dim must divide into m=$m subspaces")
    val melted = codes.select(col(idCol), explode(array((0 until m).map(s =>
        struct(lit(s).as("s"), col(s"code$s").as("code"))): _*)).as("_x"))
      .select(col(idCol), col("_x.s").as("s"), col("_x.code").as("code"))
    val qsub = pqSubspaces(query.select(col("qv").as(vecCol)), vecCol, "_q",
        m, subLen, vecCol)
      .select(col("s"), col("sv").as("qsv"))
    val lut = pqSubspaces(codebook, "centroid_id", "centroid_id", m, subLen, vecCol)
      .join(qsub, Seq("s"))
      .select(col("s"), col("centroid_id").as("code"),
        graft.functions.CosineSimilarity(col("sv"), col("qsv")).as("pcos"))
    melted.join(broadcast(lut), Seq("s", "code"))
      .groupBy(col(idCol))
      // decimal accumulation: the m-term double sum must not depend on
      // partial-aggregation order (scale 9 is exact-safe for |cos| <= 1)
      .agg(sum(col("pcos").cast(org.apache.spark.sql.types.DecimalType(20, 9)))
        .cast("double").as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** The query vector's `nprobe` nearest centroids: `[centroid_id, qv]`. */
  private def assignQuery(query: DataFrame, centroids: DataFrame,
                          nprobe: Int = 1): DataFrame =
    query
      .crossJoin(broadcast(centroids))
      .select(col("centroid_id"), col("qv"),
        graft.functions.CosineSimilarity(col("qv"), col("cv")).as("cos"))
      .orderBy(col("cos").desc, col("centroid_id"))
      .limit(nprobe)
      .select(col("centroid_id"), col("qv"))
}
