package graft.ops

import graft.functions.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * All variants follow the same scale shape: map-side signature extraction
  * (pure expression trees, no UDFs, no driver state), then ONE shuffle on
  * the signature/bucket key. Pairwise work only ever happens inside a
  * bucket, never across the full corpus, so cost is O(sum bucket²) not
  * O(n²) — the standard MinHash-LSH layout.
  *
  * Hashes are md5-based (not Spark's murmur `hash`) so signatures are
  * engine-reproducible and the DuckDB oracle can mirror them exactly.
  *
  * Background (public literature): MinHash resemblance estimation — Broder,
  * "On the resemblance and containment of documents" (SEQUENCES 1997);
  * banded LSH — Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets"
  * ch. 3; SimHash — Charikar, "Similarity estimation techniques from
  * rounding algorithms" (STOC 2002), applied at scale in Manku et al.,
  * "Detecting near-duplicates for web crawling" (WWW 2007); the char-gram
  * sketch in [[graft.functions.TextAnalysis.charShingleSketch]] follows
  * winnowing — Schleimer/Wilkerson/Aiken, "Winnowing: local algorithms for
  * document fingerprinting" (SIGMOD 2003).
  *
  * Cache contract (module-wide): every table this module pins via
  * [[Caching.cached]] — signature tables, candidate pair sets,
  * collapsed-group tables — has CALLER-MANAGED lifetime: the returned
  * plan references the pin, so unpersisting here would force a recompute
  * per consumer. Release with `spark.catalog.clearCache()` once the
  * result is materialized (what Bench/Verify do per query); [[clusters]]'
  * per-round localCheckpoints are the one exception — superseded rounds
  * are released internally via [[Checkpoints.release]].
  */
object Dedup {

  /** Exact dedup: group by normalized-content fingerprint; keep the lowest
    * id per group. One shuffle on the 128-bit key; at 100 TB this is the
    * cheapest possible full-corpus dedup (the key is 16 bytes/doc).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  /** Word k-shingles of a text column, one row per (id, shingle).
    *
    * The token array is projected to a concrete column first so the
    * regex split runs once per document, not once per `element_at`
    * reference inside the shingle lambda (~3× less regex work).
    */
  def shingles(docs: DataFrame, k: Int, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    // Spread a narrow source before the tokenize+explode (the expensive
    // map work of every shingle consumer) — a single-split file otherwise
    // pins the whole explode on one core; no-op on well-split inputs
    // ([[Skew.spread]]).
    Skew.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .where(size(col("_toks")) >= k)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("_toks")) - k),
        i => concat_ws(" ", (0 until k).map(j => element_at(col("_toks"), i + j + 1)): _*)
      )).as("shingle"))

  /** Pairwise EXACT Jaccard similarity between corpus partitions (data
    * sources, domains, snapshots) over their word-shingle SETS — the
    * corpus-level companion of the per-document near-dup stack: "how much
    * does source A overlap source B" drives mixture weights and
    * decontamination budgets before any per-doc work happens.
    *
    * Shape: distinct `(key, shingle)` (one shuffle), self-join on the
    * shingle — fan-out per shingle is bounded by `n_keys²`, and `keyCol`
    * is a SOURCE dimension (tens..thousands), never a document id, so the
    * join is pair-bounded regardless of corpus bytes. Pair counts combine
    * map-side before the `n_keys²`-row shuffle; set sizes broadcast.
    *
    * Returns `(key_a, key_b, n_inter, n_a, n_b, jaccard)` for every pair
    * sharing at least one shingle, `key_a < key_b`.
    */
  def corpusJaccard(docs: DataFrame, keyCol: String = "source",
                    shingleSize: Int = 3, textCol: String = "text"): DataFrame = {
    // The shingle explode+distinct subtree is evaluated once per join
    // side below; [[shingles]] spreads a narrow source so each
    // evaluation runs at compute parallelism, and the pin materializes
    // the distinct set ONCE for both sides (the per-side distinct
    // exchanges canonicalize differently under their aliases, so
    // runtime exchange reuse does not fire — the profile showed the
    // full explode+distinct map side executing twice, serially).
    val sets = Caching.cached(
      shingles(docs, shingleSize, idCol = keyCol, textCol = textCol)
        .distinct())
    // sizes is per-key-tiny but feeds TWO differently-aliased broadcasts
    // — pinned so each broadcast reads the sets pin instead of
    // re-aggregating per alias.
    val sizes = sets.groupBy(keyCol).agg(count(lit(1)).as("n")).transform(Caching.cached)
    val a = sets.select(col(keyCol).as("key_a"), col("shingle"))
    val b = sets.select(col(keyCol).as("key_b"), col("shingle"))
    a.join(b, "shingle").where(col("key_a") < col("key_b"))
      .groupBy("key_a", "key_b").agg(count(lit(1)).as("n_inter"))
      .join(broadcast(sizes.select(col(keyCol).as("key_a"), col("n").as("n_a"))), "key_a")
      .join(broadcast(sizes.select(col(keyCol).as("key_b"), col("n").as("n_b"))), "key_b")
      .select(col("key_a"), col("key_b"), col("n_inter"), col("n_a"), col("n_b"),
        (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
          .as("jaccard"))
  }

  /** MinHash signatures over word 3-shingles: `numHashes` independent
    * md5-min functions (seeded by prefix). Returns one row per doc:
    * (id, h0..h{n-1}, band0, band1) where bands pair consecutive hashes —
    * the LSH keys. Distributed cost: shingle explode (map-side) + one
    * groupBy(id) shuffle.
    */
  def minhash(docs: DataFrame, numHashes: Int = 4, shingleSize: Int = 3,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(numHashes <= 4, "hash family derives from one 128-bit md5: max 4 x 32-bit slices")
    // Single-pass signature expression: ONE md5 per shingle, the k
    // "independent" hash functions are disjoint 32-bit digest slices
    // (fixed-width lowercase hex, so lexicographic MIN is numeric min),
    // mins tracked inline — pure map-side, no shingle explode, no shuffle
    // (see graft.functions.MinHashSignature; bit-identical to the exploded
    // formulation).
    val sig = docs
      .select(col(idCol),
        graft.functions.MinHashSignature(col(textCol), numHashes, shingleSize).as("_sig"))
      .where(col("_sig").isNotNull)
      .select(col(idCol) +:
        (0 until numHashes).map(i => element_at(col("_sig"), i + 1).as(s"h$i")): _*)
    // bands of r=2 rows: docs agreeing on ALL hashes of any band are
    // candidates
    val bands = (0 until numHashes / 2).map { b =>
      md5(concat_ws("|", col(s"h${2 * b}"), col(s"h${2 * b + 1}"))).as(s"band$b")
    }
    sig.select(col(idCol) +: (0 until numHashes).map(i => col(s"h$i")) ++: bands: _*)
  }

  /** LSH candidate pairs: docs sharing any band key. Bucket-local
    * self-join — the scale path (no all-pairs comparison).
    *
    * The signature table is cached before the self-join: it is the product
    * of the expensive shingle explode and would otherwise be recomputed for
    * every join branch. Bands are unpivoted into (id, band) rows so all
    * bands go through ONE shuffle + join instead of one join per band.
    *
    * Degenerate-band guard (OPT-IN): a band value shared by millions of
    * docs (e.g. boilerplate repeated verbatim across a crawl) would create
    * ONE quadratic bucket and stall the whole stage. Pass a finite
    * `maxBandPopulation` to exclude such bands from the pairwise join —
    * their members are near-certain duplicates and belong in the cheap
    * linear path instead ([[exact]] dedup / direct same-band clustering;
    * enumerate them with [[oversizedBands]], which a guarded pipeline MUST
    * consume or it silently loses those duplicates). The guard costs one
    * aggregation on the band key the join shuffles on anyway. The default
    * (`Long.MaxValue`) diverts nothing: dropping candidate pairs is a
    * recall decision the caller has to make explicitly.
    */
  def minhashCandidates(sig0: DataFrame, numBands: Int = 2,
                        idCol: String = "doc_id",
                        maxBandPopulation: Long = Long.MaxValue): DataFrame = {
    // both band sides read the signatures; respect an existing pin
    // (pipelines often cache the signature table themselves) instead of
    // re-caching
    val sig = Caching.cached(sig0)
    val bandCols = (0 until numBands).map(b => col(s"band$b"))
    val bands = sig.select(col(idCol), explode(array(bandCols: _*)).as("band"))
    // the population count + semi-join only enter the plan when the guard
    // is actually on — the unguarded path stays one shuffle + one join
    val bounded = if (maxBandPopulation == Long.MaxValue) bands else {
      val keep = bands.groupBy("band")
        .agg(count(lit(1)).as("_n"))
        .where(col("_n") <= maxBandPopulation)
        .select("band")
      bands.join(keep, Seq("band"))
    }
    bounded.as("a")
      .join(bounded.as("b"), col("a.band") === col("b.band"))
      .where(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** Bands diverted by [[minhashCandidates]]'s population guard:
    * (band, population) for every band above the threshold. A pipeline
    * routes these members through exact dedup (sharing a full band at that
    * multiplicity means near-identical content) instead of pairwise work.
    */
  def oversizedBands(sig0: DataFrame, numBands: Int = 2,
                     idCol: String = "doc_id",
                     maxBandPopulation: Long = 10000L): DataFrame = {
    val bandCols = (0 until numBands).map(b => col(s"band$b"))
    sig0.select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .groupBy("band").agg(count(lit(1)).as("population"))
      .where(col("population") > maxBandPopulation)
  }

  /** Docs EVERY band of which is oversized, keyed by their full MinHash
    * signature — the linear-path recovery behind [[nearDedup]]'s and
    * [[crossSourceMatrix]]'s population guards. A fully-diverted doc can
    * never reach the pairwise join (all its LSH keys were excluded), but
    * the guard's target scenario — verbatim boilerplate repeated across
    * the corpus — gives those docs IDENTICAL full signatures, so
    * grouping by `(h0..h{k-1})` recovers the duplicate sets in linear
    * time: no bucket self-join, no C(n,2) anything. Returns
    * `(idCol, _g)` with `_g` an md5 over the full signature.
    *
    * Recall boundary (callers document it): two fully-diverted docs with
    * DIFFERENT full signatures (they merely collide on one boilerplate
    * band) stay unpaired — that collision noise is exactly what the
    * guard exists to divert.
    */
  private def fullyDiverted(sig: DataFrame, numBands: Int, idCol: String,
                            maxBandPopulation: Long): DataFrame = {
    // bands over the population cap are FEW by construction (each holds
    // > cap docs), so the exclusion set broadcasts
    val over = oversizedBands(sig, numBands, idCol, maxBandPopulation)
      .select(col("band"), lit(1).as("_ov"))
    val hCols = sig.columns.filter(_.matches("h\\d+")).sorted.map(col(_))
    val flagged = (0 until numBands).foldLeft(sig) { (df, b) =>
      df.join(broadcast(over.select(col("band").as(s"band$b"),
        col("_ov").as(s"_o$b"))), Seq(s"band$b"), "left")
    }
    flagged
      .where((0 until numBands).map(b => col(s"_o$b").isNotNull).reduce(_ && _))
      .select(col(idCol), md5(concat_ws("|", hCols: _*)).as("_g"))
  }

  /** Persist the LSH band index for INCREMENTAL dedup: (id, band) rows,
    * hash-bucketed AND sorted on `band` via the session catalog (the
    * [[graft.Warehouse.saveBucketed]] layout). This is the structure that
    * makes daily-crawl dedup O(batch), not O(corpus): a new batch joins
    * the index on `band`, and because the index is bucketed on exactly
    * that key, Catalyst reuses the bucketing — the 100-TB index side is
    * NEVER re-shuffled; only the (small) new batch exchanges to match.
    *
    * Degenerate bands: divert boilerplate bands with [[oversizedBands]]
    * BEFORE indexing (same recall contract as [[minhashCandidates]]'s
    * guard) — an indexed hot band re-creates the quadratic bucket on
    * every future batch.
    */
  def writeBandIndex(docs: DataFrame, table: String, numBuckets: Int = 64,
                     numHashes: Int = 4, shingleSize: Int = 3,
                     idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    // A fresh session's in-memory catalog doesn't know about a managed
    // table directory left on disk by an earlier JVM, and saveAsTable
    // then refuses with LOCATION_ALREADY_EXISTS — drop the catalog
    // entry AND the orphaned default-warehouse location before writing.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val sig = minhash(docs, numHashes, shingleSize, idCol, textCol)
    val bandCols = (0 until numHashes / 2).map(b => col(s"band$b"))
    sig.select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .write.mode("overwrite")
      .bucketBy(numBuckets, "band")
      .sortBy("band")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Candidate pairs for a NEW batch against an existing [[writeBandIndex]]
    * corpus index, plus the batch's internal pairs — exactly the pairs
    * [[minhashCandidates]] over (corpus ∪ batch) would emit that touch the
    * batch, without ever recomputing (or re-shuffling) the corpus side.
    * Output matches [[minhashCandidates]]: distinct `(id_a, id_b)`,
    * id_a < id_b (a batch doc whose id already exists in the index never
    * pairs with itself).
    */
  def incrementalCandidates(newDocs: DataFrame, indexTable: String,
                            numHashes: Int = 4, shingleSize: Int = 3,
                            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = newDocs.sparkSession
    val sig = minhash(newDocs, numHashes, shingleSize, idCol, textCol)
    val bandCols = (0 until numHashes / 2).map(b => col(s"band$b"))
    // cached: feeds the index join AND the batch self-join
    val newBands = sig
      .select(col(idCol), explode(array(bandCols: _*)).as("band")).transform(Caching.cached)
    val index = spark.table(indexTable)
    val newVsOld = newBands.as("n")
      .join(index.as("o"), col("n.band") === col("o.band"))
      .where(col(s"n.$idCol") =!= col(s"o.$idCol"))
      .select(least(col(s"n.$idCol"), col(s"o.$idCol")).as("id_a"),
        greatest(col(s"n.$idCol"), col(s"o.$idCol")).as("id_b"))
    val newVsNew = newBands.as("a")
      .join(newBands.as("b"), col("a.band") === col("b.band"))
      .where(col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
    newVsOld.union(newVsNew).distinct()
  }

  /** SimHash: `bits`-bit signature from per-token md5 bit votes. Two docs
    * are near-dups when hamming(simhash) is small. Map-side expression
    * work + one groupBy(id, bit) + one groupBy(id) — no joins.
    */
  def simhash(docs: DataFrame, bits: Int = 16, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    // Single-pass signature expression: ONE md5 per token, nibble votes
    // and the final bit-vote accumulated inline — pure map-side, zero
    // shuffles (see graft.functions.SimHashSignature; bit-identical to
    // the exploded token×bit formulation).
    //
    // NULL-text docs are dropped, not emitted with a NULL signature: the
    // oracle's unnest over string_split(NULL) yields no rows for them.
    docs.where(col(textCol).isNotNull)
      .select(col(idCol),
        graft.functions.SimHashSignature(col(textCol), bits).as("simhash"))

  /** 64-bit SimHash split into four 16-bit blocks `s0..s3` (low block
    * first) — the permute-and-block layout of Manku/Jain/Sarma, "Detecting
    * near-duplicates for web crawling" (WWW 2007, §3): any two signatures
    * within hamming distance 3 agree EXACTLY on at least one of the four
    * blocks (pigeonhole), so each block value is an LSH key with 2^16
    * distinct values per block family — candidate buckets shrink as
    * n/2^16, not n/2^8, and the in-bucket pairwise work survives a 100×
    * corpus. Pure map-side (one signature expression + bit slicing).
    */
  def simhashBlocks(docs: DataFrame, bits: Int = 64, blockBits: Int = 16,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(bits % blockBits == 0, s"bits=$bits must be a multiple of blockBits=$blockBits")
    val nb = bits / blockBits
    val mask = (1L << blockBits) - 1
    val sig = simhash(docs, bits, idCol, textCol)
    sig.select(col(idCol) +: col("simhash") +:
      (0 until nb).map(k =>
        shiftrightunsigned(col("simhash"), blockBits * k).bitwiseAND(lit(mask))
          .as(s"s$k")): _*)
  }

  /** SimHash near-dup candidate pairs from [[simhashBlocks]] output:
    * block-local self-join on each of the `numBlocks` block keys, verified
    * by full-signature hamming distance ≤ `maxHamming`. Exact recall for
    * `maxHamming < numBlocks` (pigeonhole over the blocks); pairwise work
    * never leaves a (block-index, block-value) bucket.
    */
  def simhashCandidates(sig0: DataFrame, numBlocks: Int = 4, maxHamming: Int = 3,
                        idCol: String = "doc_id"): DataFrame = {
    require(maxHamming < numBlocks,
      s"recall guarantee needs maxHamming < numBlocks (got $maxHamming >= $numBlocks)")
    // see minhashCandidates: respect a caller's existing pin
    val sig = Caching.cached(sig0)
    val blocks = sig.select(col(idCol), col("simhash"),
      explode(array((0 until numBlocks).map(k =>
        struct(lit(k).as("blk"), col(s"s$k").as("key"))): _*)).as("b"))
      .select(col(idCol), col("simhash"), col("b.blk").as("blk"), col("b.key").as("key"))
    blocks.as("a")
      .join(blocks.as("b2"),
        col("a.blk") === col("b2.blk") && col("a.key") === col("b2.key") &&
          col(s"a.$idCol") < col(s"b2.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b2.$idCol").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b2.simhash"))).cast("long").as("hamming"))
      // hamming is a function of the pair, so filtering BEFORE the dedup
      // shuffle is equivalent and shrinks it
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Duplicate-cluster resolution: connected components over a
    * candidate-pair graph (e.g. [[minhashCandidates]] output), labeling
    * every member with the SMALLEST doc id in its component — the
    * canonical keeper a pipeline retains while dropping the rest.
    *
    * Iterative min-label propagation with pointer doubling (the
    * hash-to-min family from the MapReduce connected-components
    * literature — Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014): each round every node takes the min of (its own
    * label, its neighbors' labels, its LABEL'S label). The label-of-label
    * hop squares the propagation distance, so rounds = O(log diameter)
    * instead of O(diameter) — two joins + one groupBy shuffle per round.
    * The fixpoint (min node id per component) is unique, so the converged
    * result is partitioning- and iteration-order-independent. Each round
    * runs exactly ONE Spark job: the labels are lazily local-checkpointed
    * (truncating lineage) and materialized by the convergence aggregate.
    * Only the per-round label SUM reaches the driver.
    *
    * Bounded fast path: the edge table must materialize before the loop
    * anyway (it is cached and drives every round), so its exact count is
    * free — and when it fits the `localSolveMaxEdges` budget the
    * components are solved in one driver-side union–find pass instead of
    * O(log diameter) iterative jobs. This is the same bounded-collect
    * contract as the centroid tables (a dup-pair graph that survives
    * Jaccard verification is output-sized, typically orders of magnitude
    * below the corpus); a 100-TB run whose verified edges exceed the
    * budget takes the distributed loop unchanged. Both paths compute the
    * identical unique fixpoint (min node id per component). The gate is
    * type-guarded: exotic id types fall back to the loop.
    */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIter: Int = 30, localSolveMaxEdges: Long = 2000000L): DataFrame = {
    // The raw pair projection caches NARROW (no shuffle): the gate count
    // materializes it once, the local path collects straight from it, and
    // only the distributed loop pays for the bidirectional distinct set.
    val half = pairs.select(col(idA).as("src"), col(idB).as("dst")).transform(Caching.cached)
    // driver-side orderings exist for the id types this library pairs on
    // (longs from doc ids, strings from content keys); anything else uses
    // the distributed loop, whose min() delegates to Catalyst's ordering
    val idOrd: Option[Ordering[Any]] = pairs.schema(idA).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType =>
        Some(Ordering.by((v: Any) => v.asInstanceOf[Number].longValue()))
      case org.apache.spark.sql.types.StringType =>
        Some(Ordering.by((v: Any) => v.asInstanceOf[String]))
      case _ => None
    }
    val nEdges = half.count()
    if (idOrd.isDefined && nEdges <= localSolveMaxEdges) {
      val ord = idOrd.get
      // Union–find with path-halving; union attaches the LARGER root under
      // the smaller (by id order), so every root is its component's min id
      // — the exact fixpoint the distributed loop converges to.
      val parent = new java.util.HashMap[Any, Any](1 << 16)
      def find(x0: Any): Any = {
        var x = x0
        var p = parent.get(x)
        if (p == null) { parent.put(x, x); return x }
        while (p != x) {
          val gp = parent.get(p)
          parent.put(x, gp) // path halving
          x = gp
          p = parent.get(x)
        }
        x
      }
      // one collect job (toLocalIterator would schedule a job per
      // partition); the localSolveMaxEdges gate bounds the allocation
      for (r <- half.collect()) {
        val (ra, rb) = (find(r.get(0)), find(r.get(1)))
        if (ra != rb) {
          if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      half.unpersist()
      val idType = pairs.schema(idA).dataType
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", idType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster_id", idType, nullable = false)))
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size())
      val keys = parent.keySet().iterator()
      while (keys.hasNext) {
        val k = keys.next()
        rows.add(org.apache.spark.sql.Row(k, find(k)))
      }
      return pairs.sparkSession.createDataFrame(rows, schema)
    }
    // distributed loop: bidirectional distinct edge set (derived from the
    // cached half, so the pair plan is not recomputed). Every endpoint
    // appears as src; the lazy localCheckpoint is materialized by the
    // first labelSum below.
    val edges = half.union(half.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().transform(Caching.cached)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id")).localCheckpoint(false)
    // convergence check: count the rows whose label CHANGED this round —
    // exact for every orderable id type. (The previous label-sum trick
    // silently broke on non-numeric string ids: the decimal cast nulled
    // every label, the sum read 0 each round, and the loop exited
    // "converged" after one propagation.) The changed flag rides the
    // round's own projection, so the count is still the single job that
    // materializes the round's checkpoint.
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("cluster_id").as("nbl")), Seq("dst"))
        .groupBy("src").agg(min(col("nbl")).as("nbl_min"))
        .withColumnRenamed("src", "doc_id")
      // pointer doubling: follow my current label to ITS label. Every
      // cluster_id is itself a node id present in `labels`, so the lookup
      // is a self-join; left + coalesce keeps the row if the parent is
      // missing (cannot happen at a fixpoint precursor, but harmless).
      val parent = labels
        .select(col("doc_id").as("cluster_id"), col("cluster_id").as("ll"))
      val newLbl = least(
        col("cluster_id"),
        coalesce(col("nbl_min"), col("cluster_id")),
        coalesce(col("ll"), col("cluster_id")))
      val next = labels
        .join(nbrMin, Seq("doc_id"), "left")
        .join(parent, Seq("cluster_id"), "left")
        .select(col("doc_id"), newLbl.as("_new"),
          (newLbl =!= col("cluster_id")).as("_chg"))
        .withColumnRenamed("_new", "cluster_id")
        .localCheckpoint(false)
      val changed = next
        .agg(coalesce(sum(when(col("_chg"), 1L).otherwise(0L)), lit(0L)))
        .collect()(0).getLong(0)
      // the superseded round's checkpoint blocks are dead once `next` is
      // materialized — release them instead of accumulating O(log diameter)
      // cached label tables for the life of the session. NB: this must go
      // through [[Checkpoints.release]] — `Dataset.unpersist` only talks
      // to the CacheManager and is a silent no-op on localCheckpoint'ed
      // frames (their blocks are RDD-level).
      Checkpoints.release(labels)
      labels = next.drop("_chg")
      done = changed == 0
      iter += 1
    }
    if (!done)
      // a component with diameter > maxIter would exit with non-fixpoint
      // labels; surface it rather than silently returning wrong clusters
      System.err.println(
        s"[dedup] clusters: NOT converged after $maxIter rounds — " +
          "raise maxIter (labels are not yet per-component minima)")
    edges.unpersist()
    half.unpersist()
    labels
  }

  /** Quality-aware duplicate resolution: given the corpus and a
    * [[clusters]] labeling, pick the BEST doc per duplicate cluster by a
    * caller-supplied score (descending; ties break to the lowest id) —
    * what production dedup actually keeps (the longest / highest-quality
    * variant), where keep-lowest-id is only the deterministic default.
    * Docs in no cluster keep themselves.
    *
    * Output: one row per doc — `(idCol, cluster_id, keep_id, kept)` with
    * `cluster_id = doc_id` for singletons.
    *
    * Scale shape: the argmax is ONE map-side-combinable aggregation on
    * cluster_id (`max(struct(score, −id))` — no per-cluster sort, no
    * window); `clusterLabels` covers only docs that appear in a dup pair
    * (a vanishing corpus fraction after LSH blocking), so both joins
    * against it are effectively corpus × small. The score must be
    * deterministic for reproducible keeps.
    */
  def keepBest(docs: DataFrame, clusterLabels: DataFrame, score: Column,
               idCol: String = "doc_id"): DataFrame = {
    val scored = docs.select(col(idCol), score.as("_score"))
    val labeled = clusterLabels.join(scored, Seq(idCol))
    // (score desc, id asc) as ONE combinable agg: negate the SCORE (a
    // numeric by contract) and take the min struct — negating the id
    // would null out (ANSI off) or crash (ANSI on) on string ids, which
    // the content-keyed pipelines legitimately use
    val best = labeled
      .groupBy("cluster_id")
      .agg(min(struct((-col("_score")).as("ns"), col(idCol).as("kid"))).as("m"))
      .select(col("cluster_id"), col("m.kid").as("keep_id"))
    docs.select(col(idCol))
      .join(clusterLabels, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .join(best, Seq("cluster_id"), "left")
      .withColumn("keep_id", coalesce(col("keep_id"), col(idCol)))
      .select(col(idCol), col("cluster_id"), col("keep_id"),
        (col(idCol) === col("keep_id")).as("kept"))
  }

  /** The complete production near-dedup pipeline in one call — MinHash
    * LSH blocking → n-gram Jaccard VERIFICATION of the candidates (LSH
    * alone admits band-collision false positives; real pipelines verify
    * before clustering) → connected components over the verified edges →
    * quality-aware keep ([[keepBest]]). Returns one row per doc:
    * `(idCol, cluster_id, keep_id, kept)`.
    *
    * Scale shape is the composition of its stages' shapes: pair work is
    * band-bucket-local, Jaccard shingling is pruned to pair members
    * (a vanishing corpus fraction), CC is O(log diameter) rounds, the
    * keep rule one combinable argmax — the corpus itself is touched by
    * exactly two full passes (signatures + the final label join).
    */
  def nearDedup(docs: DataFrame, score: Column, threshold: Double = 0.6,
                shingleSize: Int = 3,
                idCol: String = "doc_id", textCol: String = "text",
                maxBandPopulation: Long = Long.MaxValue): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in [0, 1], got $threshold")
    // cached: the signature table feeds the LSH candidate plan and (when
    // the guard is on) the fully-diverted recovery; the candidate plan
    // (band self-join + distinct) feeds the verify's pair-scope prune
    // twice plus the verify join itself — without the caches those
    // subtrees are recomputed per consumer. Lifetime is caller-managed
    // like every pinned table in this module (release via
    // spark.catalog.clearCache() once the result is materialized).
    val sig = Caching.cached(minhash(docs, idCol = idCol, textCol = textCol))
    val pairs = minhashCandidates(sig, idCol = idCol,
      maxBandPopulation = maxBandPopulation).transform(Caching.cached)
    val verified = ngramJaccard(docs, pairs, shingleSize, idCol, textCol)
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b")
    // A finite guard keeps boilerplate bands out of the quadratic bucket
    // join, but their members are exactly the near-certain duplicates —
    // recover the fully-diverted ones linearly as star edges per
    // identical-full-signature group (signature equality at 4 hashes is
    // the high-Jaccard core the guard diverted; see [[fullyDiverted]]
    // for the recall boundary). groupBy+join, never a per-group window:
    // the hot group must not funnel through one sort task.
    val edges =
      if (maxBandPopulation == Long.MaxValue) verified
      else {
        val g = fullyDiverted(sig, numBands = 2, idCol, maxBandPopulation)
        val mins = g.groupBy("_g").agg(min(col(idCol)).as("_m"))
        val star = g.join(mins, Seq("_g"))
          .where(col(idCol) =!= col("_m"))
          .select(col("_m").as("id_a"), col(idCol).as("id_b"))
        verified.unionByName(star)
      }
    // clusters() emits its canonical "doc_id" column name; align it with
    // the caller's id column before the keep join
    keepBest(docs, clusters(edges).withColumnRenamed("doc_id", idCol),
      score, idCol)
  }

  /** Cross-source duplication matrix: how much of each source pair's
    * content is shared — the attribution report a curation pipeline reads
    * before deciding WHICH source to drop or down-weight (a mirror site
    * shows up as one loud off-diagonal cell; within-source boilerplate as
    * a diagonal one). Pairs are [[minhashCandidates]] blocked and
    * Jaccard-VERIFIED (>= `threshold`, [[ngramJaccard]]) — band collisions
    * never inflate a cell — then each side looks up its source and the
    * unordered (source_a <= source_b) cell counts the pair.
    *
    * Scale shape: everything between the two corpus passes (signatures +
    * the source lookup join) is pair-scoped; the verified pair set is a
    * vanishing corpus fraction, so the two id-keyed lookup joins move
    * |pairs| rows against the corpus's unique-id side, and the final
    * aggregate is map-side-combinable into <= |sources|² cells. The
    * pinned signature + candidate tables' lifetimes are caller-managed
    * ([[nearDedup]]'s contract).
    *
    * A within-source boilerplate band — EXACTLY the diagonal-cell
    * scenario this report surfaces — is also the degenerate quadratic
    * bucket, so the guard is reachable here: a finite
    * `maxBandPopulation` keeps hot bands out of the pairwise join and
    * counts their fully-diverted members' cells LINEARLY instead, as
    * count products per identical-full-signature group (`n_a·n_b` off
    * the diagonal, `C(n,2)` on it). Those cells count signature
    * equality — the near-certain-duplicate core — without per-pair
    * shingle verification; cross-signature collisions inside a hot band
    * stay uncounted ([[fullyDiverted]]'s recall boundary).
    */
  def crossSourceMatrix(docs: DataFrame, threshold: Double = 0.6,
                        shingleSize: Int = 3, idCol: String = "doc_id",
                        textCol: String = "text",
                        srcCol: String = "source",
                        maxBandPopulation: Long = Long.MaxValue): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in [0, 1], got $threshold")
    val sig = Caching.cached(minhash(docs, idCol = idCol, textCol = textCol))
    val pairs = minhashCandidates(sig, idCol = idCol,
      maxBandPopulation = maxBandPopulation)
      .transform(Caching.cached)
    val verified = ngramJaccard(docs, pairs, shingleSize, idCol, textCol)
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b")
    val src = docs.select(col(idCol), col(srcCol))
    val base = verified
      .join(src.select(col(idCol).as("id_a"), col(srcCol).as("_sa")), Seq("id_a"))
      .join(src.select(col(idCol).as("id_b"), col(srcCol).as("_sb")), Seq("id_b"))
      .select(least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
    if (maxBandPopulation == Long.MaxValue) base
    else {
      // per-(group, source) counts; the cell products join <= |sources|
      // rows per group against themselves — bounded by the source
      // dimension, never by member count (no pair enumeration anywhere)
      val gs = fullyDiverted(sig, numBands = 2, idCol, maxBandPopulation)
        .join(src, Seq(idCol))
        .groupBy(col("_g"), col(srcCol)).agg(count(lit(1)).as("_n"))
        .transform(Caching.cached)
      val diag = gs.where(col("_n") >= 2)
        .select(col(srcCol).as("source_a"), col(srcCol).as("source_b"),
          // integer div, not `/` (double): C(n,2) must stay exact past 2^53
          expr("(_n * (_n - 1)) div 2").as("n_pairs"))
      val off = gs.as("x")
        .join(gs.select(col("_g"), col(srcCol).as("_sy"), col("_n").as("_ny")), Seq("_g"))
        .where(col(srcCol) < col("_sy"))
        .select(col(srcCol).as("source_a"), col("_sy").as("source_b"),
          (col("_n") * col("_ny")).as("n_pairs"))
      base.unionByName(diag).unionByName(off)
        .groupBy("source_a", "source_b")
        .agg(sum(col("n_pairs")).as("n_pairs"))
    }
  }

  /** N-gram Jaccard similarity for given candidate pairs (id_a, id_b):
    * |A ∩ B| / |A ∪ B| over distinct word shingles. Each doc's distinct
    * shingle set is collected ONCE into an array column; the intersection
    * is then a codegen'd `array_intersect` per pair — so the pair joins
    * move |pairs| rows (each carrying one doc-length-bounded set), never
    * |pairs|×|shingles| exploded rows. Pairs sharing no shingle are
    * omitted (as a shingle-join intersection would), so callers filtering
    * `jaccard >= tau` see identical results.
    */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, shingleSize: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   scopeToPairs: Boolean = true,
                   precomputedShingles: Option[DataFrame] = None): DataFrame = {
    // Shingle only the docs that actually appear in a candidate pair: in
    // the real dedup flow `pairs` comes from LSH blocking and names a
    // vanishing fraction of the corpus, so the semi-join prunes the
    // shingle explode (the expensive part) before it happens. A caller
    // whose pair set provably spans the corpus (e.g. the oracle query's
    // adjacent-id pairs) passes scopeToPairs=false to skip the pure-
    // overhead prune. A caller that already materialized the distinct
    // shingle table (e.g. [[prefixFilterJoin]], whose candidate stage
    // needs it anyway) passes it via `precomputedShingles` so the
    // corpus-wide explode runs once, not twice — the pair-scope prune
    // still applies to it.
    def pairIds = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol))).distinct()
    val sh = precomputedShingles match {
      case Some(pre) =>
        if (!scopeToPairs) pre else pre.join(pairIds, Seq(idCol), "left_semi")
      case None =>
        val scopedDocs =
          if (!scopeToPairs) docs else docs.join(pairIds, Seq(idCol), "left_semi")
        shingles(scopedDocs, shingleSize, idCol, textCol).distinct()
    }
    // One aggregate builds each doc's (set, size); per-group state is
    // bounded by the doc's shingle count (docs are length-bounded). The
    // sort is in-memory per doc and buys the zero-allocation merge-loop
    // intersect kernel below.
    // The aggregation's per-row work (collect + in-memory sort) and the
    // downstream verify kernel dwarf the rows' bytes, and the pair-scoped
    // input is byte-tiny — AQE's byte-based coalescing ran this whole
    // chain single-task at sf0.1. The explicit keyed repartition replaces
    // the exchange the groupBy would insert anyway (same shuffle count at
    // any scale) while pinning a partition count AQE must not coalesce
    // (r14, guide §2.5/§2.2). collect_list's partial-agg state is the
    // full data either way, so no map-side combining is lost.
    val sets = sh
      .repartition(sh.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("shingle"))).as("_set"),
        count(lit(1)).as("sz"))
    jaccardOverSets(sets, pairs, idCol)
  }

  /** The pair half of [[ngramJaccard]] over a prepared per-doc
    * `(idCol, _set, sz)` sorted-distinct-shingle-set table: each pair
    * joins both docs' sets and intersects with the zero-allocation
    * merge-loop kernel — |pairs| rows moved, never exploded shingles.
    */
  private def jaccardOverSets(sets: DataFrame, pairs: DataFrame,
                              idCol: String): DataFrame =
    pairs
      .join(sets.select(col(idCol).as("id_a"), col("_set").as("_sa"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("_set").as("_sb"),
        col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("inter",
        graft.functions.SortedIntersectCount(col("_sa"), col("_sb")))
      .where(col("inter") > 0)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double")).as("jaccard"))

  /** [[ngramJaccard]] over a pre-built distinct-shingle-set GROUP table
    * (the persisted [[shingleGroupsTable]] artifact): per-doc sets are a
    * narrow member expansion of the artifact's one-row-per-distinct-set
    * groups — no tokenize, no shingle explode, no set aggregation; the
    * corpus pass was paid once at artifact build. Values are identical
    * to [[ngramJaccard]]'s: `_set` is the same sorted distinct shingle
    * array ([[shingleSets]] sorts exactly like the aggregate form) and
    * the Jaccard arithmetic is the same expression tree.
    */
  def ngramJaccardGroups(groups: DataFrame, pairs: DataFrame,
                         idCol: String = "doc_id"): DataFrame =
    jaccardOverSets(
      groups.select(explode(col("_members")).as(idCol), col("_set"), col("sz")),
      pairs, idCol)

  /** EXACT set-similarity join via prefix filtering (Chaudhuri et al.
    * ICDE 2006; Xiao et al. WWW 2008, PPJoin's prefix+length filters):
    * every doc pair with shingle-Jaccard ≥ `tau`, with NO false
    * negatives — the exact-recall alternative to the probabilistic
    * MinHash-LSH block ([[minhashCandidates]] misses pairs whose bands
    * all disagree; this can't).
    *
    * Pigeonhole guarantee: order each doc's distinct shingles by a
    * global canonical order (document frequency ascending, shingle —
    * rarest first) and keep only its PREFIX of
    * `|s| − ⌈tau·|s|⌉ + 1` shingles. Two docs with Jaccard ≥ tau share
    * ≥ ⌈tau·max(|a|,|b|)⌉ shingles, so their prefixes must intersect —
    * candidate generation joins prefixes only. Because prefixes hold
    * each doc's RAREST shingles, bucket populations on the join key are
    * inherently small (the hot boilerplate shingles that blow up a
    * naive shingle self-join are exactly the ones prefixes exclude);
    * the length filter `min(|a|,|b|) ≥ tau·max(|a|,|b|)` prunes
    * impossible size ratios before the verify. Survivors are
    * exact-verified by a per-pair set intersection (same arithmetic as
    * [[ngramJaccard]]) — false positives cost time, never correctness,
    * so the float-guard slop (−1e-9 before each ceil) only ever widens
    * the candidate set.
    *
    * Scale shape: each doc's distinct shingle SET is a pure expression
    * (`array_distinct` over the shingle lambda — no explode+distinct
    * shuffle); document frequencies are one map-side-combinable
    * aggregate over the exploded sets — NOT a `count over (partition by
    * shingle)` window, which would funnel every occurrence of a hot
    * boilerplate shingle (exactly the ones the prefix later excludes)
    * through a single task before the prefix could drop them. The
    * canonical (df asc, shingle) prefix order is an in-memory
    * `sort_array` per doc (bounded by doc length) after one
    * groupBy(doc) — replacing per-doc windows; the pair join is
    * prefix-bucket-local; the verify is one `array_intersect` per
    * candidate pair against the same cached per-doc sets (rows moved =
    * |pairs|, never |pairs|×|shingles|). Docs with fewer than
    * `shingleSize` tokens have no shingles and never pair (same domain
    * as every other shingle op here).
    * Returns `(id_a, id_b, jaccard)`, id_a < id_b, jaccard ≥ tau.
    */
  /** Shared front half of the exact set-similarity joins
    * ([[prefixFilterJoin]], [[containmentJoin]]): one row per DISTINCT
    * shingle set.
    *
    * Per doc, the distinct word-shingle set is a pure expression
    * (`array_distinct` over the shingle lambda — no explode+distinct
    * shuffle), sorted for the merge-loop verify kernel. Exact-duplicate
    * sets are then collapsed to one representative (group key = md5 of
    * the sorted set): boilerplate cliques — the adversarial hot bucket
    * for every set-similarity join — vanish from the candidate stage
    * entirely (1,000 mirrored docs become ONE prefix contributor instead
    * of a 1,000-deep bucket on every prefix shingle), so candidate work
    * scales with DISTINCT content, and their pairs re-enter as
    * OUTPUT-sized expansion with similarity exactly 1.0 (set equality).
    * Exactness is preserved: the pigeonhole arguments only need a
    * consistent global shingle order, and df-over-distinct-sets is one.
    *
    * Returns `(_gk, _rep, _members, _set, sz, _n)`, CACHED (feeds
    * df/prefix/verify/expansion); caller-managed lifetime — release with
    * `spark.catalog.clearCache()`.
    */
  /** Per-doc sorted distinct word-shingle set as a pure expression tree —
    * `(idCol, _set, sz)`, no explode+distinct shuffle; docs shorter than
    * `shingleSize` tokens have no shingles and are excluded (the shared
    * domain rule of every shingle op here).
    */
  private def shingleSets(docs: DataFrame, shingleSize: Int,
                          idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .where(size(col("_toks")) >= shingleSize)
      .select(col(idCol), sort_array(array_distinct(transform(
        sequence(lit(0), size(col("_toks")) - shingleSize),
        i => concat_ws(" ",
          (0 until shingleSize).map(j => element_at(col("_toks"), i + j + 1)): _*)
      ))).as("_set"))
      .withColumn("sz", size(col("_set")))

  /** Jaccard similarity SEARCH: the top-`k` documents most similar to ONE
    * query document ("find the near-duplicates of this doc" — the lexical
    * complement of [[graft.ops.Ann.bruteTopK]]'s vector search, and the
    * interactive single-probe form of [[prefixFilterJoin]]'s all-pairs
    * join). Entirely map-side: each corpus doc's sorted distinct shingle
    * set is a pure expression, the query doc's set broadcasts as the
    * 1-row side of a crossJoin, and the intersection is the
    * zero-allocation [[graft.functions.SortedIntersectCount]] merge
    * loop — no shuffle at all until `TakeOrderedAndProject` picks the
    * top-k. Zero-overlap docs are dropped before ranking (their Jaccard
    * is 0 and a 100 TB corpus is mostly them); the query doc itself is
    * excluded by id.
    *
    * `query` must be a 1-row DataFrame `[idCol, textCol]` (enforced like
    * [[graft.ops.Ann.searchIvfIndex]] — a multi-row query would mix
    * probes into one meaningless top-k).
    *
    * Returns `(idCol, jaccard)`, ranked `(jaccard desc, idCol)`.
    */
  def similarDocs(docs: DataFrame, query: DataFrame, k: Int,
                  shingleSize: Int = 3, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(query.limit(2).count() == 1,
      "similarDocs expects a 1-row query DataFrame [id, text]; " +
        "multi-row queries would mix probes and top-k results")
    val qs = shingleSets(query, shingleSize, idCol, textCol)
    // fail LOUDLY on a shingle-less query doc — silently returning zero
    // rows would be indistinguishable from "no similar docs exist"
    require(qs.limit(1).count() == 1,
      s"query document has fewer than $shingleSize tokens — " +
        "no shingles to probe with")
    val q = qs
      .select(col(idCol).as("_qid"), col("_set").as("_qs"), col("sz").as("_qsz"))
    shingleSets(docs, shingleSize, idCol, textCol)
      .crossJoin(broadcast(q))
      .where(col(idCol) =!= col("_qid"))
      .withColumn("_inter",
        graft.functions.SortedIntersectCount(col("_set"), col("_qs")))
      .where(col("_inter") > 0)
      .select(col(idCol),
        (col("_inter").cast("double") /
          (col("sz") + col("_qsz") - col("_inter")).cast("double")).as("jaccard"))
      .orderBy(col("jaccard").desc, col(idCol))
      .limit(k)
  }

  /** [[similarDocs]] over a pre-built distinct-shingle-set table (the
    * persisted [[shingleGroupsTable]] artifact): one merge-loop
    * intersect per DISTINCT set instead of per doc, then a two-stage
    * top-k — top `k+1` GROUPS by `(jaccard desc, min member id)`, member
    * expansion, re-rank by `(jaccard desc, id)`, limit `k`.
    *
    * Why `k+1` groups suffice (exactness): all members of a group share
    * one jaccard. If group Y held no top-k doc but sorted before a group
    * X holding one, either `j_Y > j_X` (then every Y member outranks X's
    * top-k doc — contradiction: they'd be top-k themselves) or
    * `j_Y == j_X` with `min_Y < min_X ≤ x` (then Y's min member outranks
    * x — same contradiction). So groups holding top-k docs form a prefix
    * of the group order; the `+1` absorbs the query doc's own group
    * (excluded from the result after expansion).
    */
  def similarDocsGroups(groups: DataFrame, query: DataFrame, k: Int,
                        shingleSize: Int = 3, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(query.limit(2).count() == 1,
      "similarDocsGroups expects a 1-row query DataFrame [id, text]; " +
        "multi-row queries would mix probes and top-k results")
    val qs = shingleSets(query, shingleSize, idCol, textCol)
    require(qs.limit(1).count() == 1,
      s"query document has fewer than $shingleSize tokens — " +
        "no shingles to probe with")
    val q = qs
      .select(col(idCol).as("_qid"), col("_set").as("_qs"), col("sz").as("_qsz"))
    groups
      .crossJoin(broadcast(q))
      .withColumn("_inter",
        graft.functions.SortedIntersectCount(col("_set"), col("_qs")))
      .where(col("_inter") > 0)
      .select(col("_members"), col("_qid"),
        (col("_inter").cast("double") /
          (col("sz") + col("_qsz") - col("_inter")).cast("double")).as("jaccard"),
        array_min(col("_members")).as("_minid"))
      .orderBy(col("jaccard").desc, col("_minid"))
      .limit(k + 1)
      .select(explode(col("_members")).as(idCol), col("jaccard"), col("_qid"))
      .where(col(idCol) =!= col("_qid"))
      .orderBy(col("jaccard").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("jaccard"))
  }

  private def collapsedShingleGroupsPlan(docs: DataFrame, shingleSize: Int,
                                         idCol: String, textCol: String): DataFrame =
    shingleSets(docs, shingleSize, idCol, textCol)
      .withColumn("_gk", md5(concat_ws("\u0001", col("_set"))))
      .groupBy(col("_gk"))
      .agg(min(col(idCol)).as("_rep"),
        collect_list(col(idCol)).as("_members"),
        first(col("_set")).as("_set"), first(col("sz")).as("sz"),
        count(lit(1)).as("_n"))

  private def collapsedShingleGroups(docs: DataFrame, shingleSize: Int,
                                     idCol: String, textCol: String): DataFrame =
    collapsedShingleGroupsPlan(docs, shingleSize, idCol, textCol)
      .transform(Caching.cached)

  /** PERSISTED distinct-shingle-set artifact — the shared front half of
    * the whole exact-pair family ([[prefixFilterJoinGroups]],
    * [[containmentJoinGroups]], [[similarDocsGroups]]) built ONCE per
    * source state under the [[graft.sources.IndexFreshness]] contract:
    * the corpus pass (tokenize → shingle → distinct → duplicate-set
    * collapse) runs only when the source's file fingerprint changed;
    * every later query — any tau, any direction, any probe — starts
    * from the parquet artifact (a content-addressed set table, one row
    * per DISTINCT shingle set with its member ids). This is the
    * warehouse-index posture at 100 TB: the pair joins' candidate
    * stages all derive from this ONE table, so maintaining it amortizes
    * the dominant corpus scan across the family, exactly like the
    * inverted/band/skipping indexes ([[graft.ops.TextIndex]]).
    *
    * The returned frame is the plain parquet read — column-pruned per
    * consumer, never cache-pinned (the artifact is corpus-sized at
    * scale; executors stream it).
    */
  def shingleGroupsTable(docs: DataFrame, artifactDir: String,
                         sourceDir: String, shingleSize: Int = 3,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    graft.sources.IndexFreshness.ensure(spark, artifactDir, sourceDir) {
      collapsedShingleGroupsPlan(docs, shingleSize, idCol, textCol)
        .write.mode("overwrite").parquet(artifactDir)
    }
    spark.read.parquet(artifactDir)
  }

  /** PERSISTED distinct `(idCol, shingle)` word-`shingleSize`-gram table
    * under the [[graft.sources.IndexFreshness]] contract — the shared
    * front half of the EXPLODED-gram family the way
    * [[shingleGroupsTable]] is for the set family. The corpus pass
    * (tokenize → k-gram explode → distinct, ONE shuffle on the pair
    * key) runs only when the source's file fingerprint changed; every
    * later consumer — novelty rates, benchmark decontamination, any
    * per-gram membership aggregate — streams the parquet pairs instead
    * of re-exploding the corpus. Distinctness is part of the contract:
    * per-(doc, gram) duplicates carry no information for membership
    * consumers (their aggregates are max/exists-shaped), so
    * deduplicating at build time both shrinks the artifact and deletes
    * the consumers' own distinct shuffles. Positional consumers
    * ([[duplicatedSpanStats]]' anchored islands) CANNOT use it — they
    * need every occurrence's offset — and keep their own pass.
    */
  def shinglePairsTable(docs: DataFrame, artifactDir: String,
                        sourceDir: String, shingleSize: Int,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    graft.sources.IndexFreshness.ensure(spark, artifactDir, sourceDir) {
      shingles(docs, shingleSize, idCol, textCol).distinct()
        .write.mode("overwrite").parquet(artifactDir)
    }
    spark.read.parquet(artifactDir)
  }

  /** EXACT set-CONTAINMENT join (directed): all ordered doc pairs
    * `(a, b)`, `a != b`, with `|Sa∩Sb| / |Sa| >= tau` over word
    * `shingleSize`-shingle sets — quote/subset detection, the asymmetric
    * complement of [[prefixFilterJoin]]'s Jaccard (a short document fully
    * quoted inside a long one has containment 1.0 but arbitrarily small
    * Jaccard, so no symmetric-threshold join can find it).
    *
    * Prefix filter on the PROBE side: containment >= tau needs overlap
    * alpha = ceil(tau*|Sa|), so a's first `|Sa| - alpha + 1` shingles in
    * the canonical (df asc, shingle) order must hit Sb — candidates are
    * a's prefix joined against the full exploded sets. Unlike the Jaccard
    * join, the INDEX side cannot be prefix-pruned: b may contain an
    * arbitrarily small a, so any of b's shingles can be the witness (the
    * known lower bound for exact containment joins — prefix work is
    * O(probe prefix x df)). Three exactness-safe prunes cut candidates:
    * the probe prefix holds each doc's RAREST shingles (hot boilerplate
    * keys are exactly the ones excluded), the size filter
    * `|Sb| >= ceil(tau*|Sa|)` (overlap <= |Sb|) drops impossible pairs,
    * and the positional bound `min(i,j) + min(|Sa|-i, |Sb|-j) >= alpha`
    * (<= min(i,j) shared shingles up to a match at canonical ranks i,j,
    * <= min of the remainders after) proves under-tau pairs before the
    * verify. Survivors are exact-verified with the same zero-allocation
    * merge-loop intersect kernel; duplicate-set collapse + OUTPUT-sized
    * directed expansion as in [[prefixFilterJoin]] (intra-group pairs
    * have containment 1.0 both ways). False positives from the -1e-9
    * ceil guards cost time, never correctness.
    *
    * Returns `(id_a, id_b, containment)`, id_a != id_b (both directions
    * reported independently when both clear tau), containment >= tau.
    */
  def containmentJoin(docs: DataFrame, tau: Double, shingleSize: Int = 3,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    containmentJoinGroups(
      collapsedShingleGroups(docs, shingleSize, idCol, textCol), tau, idCol)

  /** [[containmentJoin]] over a pre-built distinct-shingle-set table
    * (typically the persisted [[shingleGroupsTable]] artifact) — the
    * corpus pass is already paid, so any tau runs straight from the
    * candidate stage.
    */
  def containmentJoinGroups(groups: DataFrame, tau: Double,
                            idCol: String = "doc_id"): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    val intra = groups.where(col("_n") > 1)
      .select(explode(col("_members")).as("id_a"), col("_members"))
      .select(col("id_a"), explode(col("_members")).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
      .withColumn("containment", lit(1.0))
    val reps = groups.select(col("_rep").as(idCol), col("_set"), col("sz"))
    val exploded = reps.select(col(idCol), col("sz"),
      explode(col("_set")).as("shingle"))
    val dfreq = exploded.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    // Canonical (df asc, shingle) rank for EVERY shingle of every rep:
    // the index side needs full ranked lists (see scaladoc), the probe
    // side slices its prefix from the same table — one df join + one
    // groupBy(doc) sort_array, no per-doc window.
    // Deliberately UNPINNED (unlike [[prefixFilterJoinGroups]]'s prefix):
    // the full index side and the probe prefix run as CONCURRENT plan
    // branches off the reused exchange, and the index side explodes the
    // whole table anyway — a pin here serializes materialize-then-fan-out
    // and measured ~0.4 s slower at sf0.1.
    val ranked = exploded
      .join(dfreq, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("_df"), col("shingle")))).as("_ranked"),
        first(col("sz")).as("sz"))
    val full = ranked
      .select(col(idCol).as("id_b"), col("sz").as("sz_b"),
        posexplode(col("_ranked.shingle")))
      .select(col("id_b"), (col("pos") + 1).as("_j"),
        col("col").as("shingle"), col("sz_b"))
    val alpha = ceil(lit(tau) * col("sz") - lit(1e-9))
    val prefix = ranked
      .select(col(idCol), col("sz"),
        posexplode(slice(col("_ranked.shingle"), lit(1),
          (col("sz") - alpha + 1).cast("int"))))
      .select(col(idCol).as("id_a"), (col("pos") + 1).as("_i"),
        col("col").as("shingle"), col("sz").as("sz_a"))
    val alphaA = ceil(lit(tau) * col("sz_a") - lit(1e-9))
    // The distinct's exchange feeds the VERIFY stage, whose per-row cost
    // is the merge-loop intersect over the attached sets — proportional
    // to set sizes, not to the row's bytes. AQE's byte-based coalescing
    // (advisory/minPartitionSize) sees only the narrow (id_a, id_b)
    // pairs and coalesces the stage below compute parallelism (measured
    // 7 tasks / max-task ≈ stage span at sf0.1). An explicit keyed
    // repartition on the SAME keys replaces the exchange the distinct
    // would insert anyway (no extra shuffle at any scale) while pinning
    // the partition count AQE must not coalesce (r14, guide §2.5/§2.2).
    val cands = prefix
      .join(full, Seq("shingle"))
      .where(col("id_a") =!= col("id_b") &&
        col("sz_b") >= alphaA &&
        least(col("_i"), col("_j")) +
          least(col("sz_a") - col("_i"), col("sz_b") - col("_j")) >= alphaA)
      .select("id_a", "id_b")
      .repartition(groups.sparkSession.sparkContext.defaultParallelism,
        col("id_a"), col("id_b"))
      .distinct()
    val verified = cands
      .join(reps.select(col(idCol).as("id_a"), col("_set").as("_sa"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(reps.select(col(idCol).as("id_b"), col("_set").as("_sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (graft.functions.SortedIntersectCount(col("_sa"), col("_sb")).cast("double") /
          col("sz_a").cast("double")).as("containment"))
      .where(col("containment") >= lit(tau))
    // Directed expansion: every member of a's group has exactly Sa and
    // every member of b's group exactly Sb, so the containment transfers
    // verbatim to the ordered member cross product (groups are disjoint,
    // so a != b is structural). OUTPUT-sized, like the Jaccard join's.
    val expanded = verified
      .join(groups.select(col("_rep").as("id_a"), col("_members").as("_ma")),
        Seq("id_a"))
      .join(groups.select(col("_rep").as("id_b"), col("_members").as("_mb")),
        Seq("id_b"))
      .select(explode(col("_ma")).as("a"), col("_mb"), col("containment"))
      .select(col("a").as("id_a"), explode(col("_mb")).as("id_b"),
        col("containment"))
    expanded.unionByName(intra)
  }

  def prefixFilterJoin(docs: DataFrame, tau: Double, shingleSize: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    prefixFilterJoinGroups(
      collapsedShingleGroups(docs, shingleSize, idCol, textCol), tau, idCol)

  /** [[prefixFilterJoin]] over a pre-built distinct-shingle-set table
    * (typically the persisted [[shingleGroupsTable]] artifact) — the
    * corpus pass is already paid, so any tau runs straight from the
    * candidate stage.
    */
  def prefixFilterJoinGroups(groups: DataFrame, tau: Double,
                             idCol: String = "doc_id"): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    val intra = groups.where(col("_n") > 1)
      .select(explode(col("_members")).as("id_a"), col("_members"))
      .select(col("id_a"), explode(col("_members")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .withColumn("jaccard", lit(1.0))
    val reps = groups.select(col("_rep").as(idCol), col("_set"), col("sz"))
    val exploded = reps.select(col(idCol), col("sz"),
      explode(col("_set")).as("shingle"))
    val dfreq = exploded.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    // Canonical order + prefix: join each shingle to its df (AQE covers
    // skew; dfreq is 1 row per shingle), collect each doc's
    // (df, shingle) pairs, sort in memory, keep the prefix of
    // `sz − ⌈tau·sz⌉ + 1` — posexplode restores the 1-based rank the
    // positional filter needs.
    val prefixLen = (col("sz") -
      ceil(lit(tau) * col("sz") - lit(1e-9)) + 1).cast("int")
    // Pinned: the exploded prefix feeds BOTH sides of the self-join below
    // — unpinned, the df join + per-doc sort_array aggregation runs twice
    // (exchange reuse covers only the shuffle, not the post-exchange
    // ObjectHashAggregate + posexplode).
    val prefix = Caching.cached(exploded
      .join(dfreq, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("_df"), col("shingle")))).as("_ranked"),
        first(col("sz")).as("sz"))
      .select(col(idCol), col("sz"),
        posexplode(slice(col("_ranked.shingle"), lit(1), prefixLen)))
      .select(col(idCol), (col("pos") + 1).as("_rnk"),
        col("col").as("shingle"), col("sz")))
    // Positional filter (PPJoin): a shared prefix shingle at canonical
    // ranks (i, j) bounds the overlap — at most min(i,j)−1 shared
    // shingles can precede it and at most min(sz_a−i, sz_b−j) can follow,
    // so overlap ≤ min(i,j) + min(sz_a−i, sz_b−j). J ≥ τ needs overlap
    // ≥ α = ⌈τ/(1+τ)·(sz_a+sz_b)⌉; the bound holds for EVERY shared
    // prefix shingle, so a pair whose matches ALL fail it is proven
    // under-τ and never reaches the verify. Per-match filter before the
    // pair distinct = drop exactly when all matches fail — recall-safe
    // (the −1e-9 ceil guard again only widens).
    val cands = prefix.select(col(idCol).as("id_a"), col("shingle"),
        col("_rnk").as("_i"), col("sz").as("sz_a"))
      .join(prefix.select(col(idCol).as("id_b"), col("shingle"),
        col("_rnk").as("_j"), col("sz").as("sz_b")), Seq("shingle"))
      .where(col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") >=
          lit(tau) * greatest(col("sz_a"), col("sz_b")).cast("double") - lit(1e-9) &&
        least(col("_i"), col("_j")) +
          least(col("sz_a") - col("_i"), col("sz_b") - col("_j")) >=
          ceil(lit(tau / (1 + tau)) * (col("sz_a") + col("sz_b")) - lit(1e-9)))
      .select("id_a", "id_b").distinct()
      // The containment-style keyed repartition before this distinct was
      // tried (r14) and REVERTED: matched A/B pairs read neutral-to-worse
      // (1.78 before vs 1.81/1.92 after across windows) — unlike the
      // containment verify, this stage already ran at ~35 tasks and its
      // max-task skew tracks set sizes AQE cannot rebalance by count
      // either; the extra pinned exchange bought nothing.
    // Exact verify between REPRESENTATIVES: one codegen'd merge-loop
    // intersect count per candidate pair
    // ([[graft.functions.SortedIntersectCount]] — the sets are
    // sort_array'd above precisely for this kernel). The tau filter
    // references both join sides, so Catalyst folds it into the second
    // join's condition; the zero-allocation kernel keeps that per-match
    // evaluation cheap. Zero-intersection pairs cannot reach here
    // (candidates share a prefix shingle by construction).
    val repPairs = cands
      .join(reps.select(col(idCol).as("id_a"), col("_set").as("_sa"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(reps.select(col(idCol).as("id_b"), col("_set").as("_sb"),
        col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("inter",
        graft.functions.SortedIntersectCount(col("_sa"), col("_sb")))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= lit(tau))
    // Expand each over-tau representative pair to its member cross
    // product (every member of a group carries the group's exact set, so
    // the jaccard transfers verbatim), restore the id_a < id_b contract
    // (member ids need not follow representative order), and add the
    // intra-group pairs. Both expansions are OUTPUT-sized — the price of
    // an exact-recall join over a corpus with duplicate cliques is its
    // own result cardinality, nothing more.
    val expanded = repPairs
      .join(groups.select(col("_rep").as("id_a"), col("_members").as("_ma")),
        Seq("id_a"))
      .join(groups.select(col("_rep").as("id_b"), col("_members").as("_mb")),
        Seq("id_b"))
      .select(explode(col("_ma")).as("a"), col("_mb"), col("jaccard"))
      .select(col("a"), explode(col("_mb")).as("b"), col("jaccard"))
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"), col("jaccard"))
    expanded.unionByName(intra)
  }

  /** Marked duplicated k-gram occurrences — the anchor stage of
    * repeated-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022: remove every repeated span,
    * keeping one occurrence; this is the k-gram-anchored scalable form of
    * their suffix-array ExactSubstr). Every token k-gram is hashed
    * (md5 — engine-reproducible) and every occurrence EXCEPT the global
    * first (lowest doc id, then lowest start) is marked as `(doc, start,
    * end)` token spans, `end` exclusive.
    *
    * Scale shape: gram extraction is a pure expression tree (no UDF); the
    * global first occurrence per gram is `min(struct(id, start))` — a
    * MAP-SIDE-COMBINABLE aggregate, so a boilerplate gram with 10⁹
    * occurrences (a license header, say — exactly what this operator
    * hunts) collapses to one row per map partition before the shuffle.
    * The mark is a join back on the gram hash against that 1-row-per-gram
    * table; AQE's skew-join split handles residual hot grams on the
    * occurrence side (the build side is single-row-per-key, safely
    * replicable). No per-gram sort, no single-task funnel — the rank
    * window this replaced put every occurrence of one gram through ONE
    * task. Docs shorter than k tokens contribute nothing.
    */
  def duplicatedSpans(docs: DataFrame, k: Int = 8,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // The gram subtree is evaluated twice below (once per join side), so
    // its map cost is paid twice — spread the source first so each
    // evaluation runs at full compute parallelism even off a single-split
    // file (no-op when the scan is already wide).
    val gramsBase = Skew.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), split(col(textCol), " ").as("_l"))
      .select(col(idCol), posexplode(
        when(size(col("_l")) >= k,
          transform(sequence(lit(0), size(col("_l")) - k),
            i => md5(concat_ws(" ", slice(col("_l"), i + 1, lit(k))))))
          .otherwise(array())).as(Seq("start", "_g")))
    // The packed-decimal fast path is only injective for INTEGRAL ids: a
    // string/UUID id casts to NULL (non-ANSI) — the anti join would then
    // never match and EVERY occurrence would be flagged — and a
    // fractional double truncates, breaking injectivity. Guard on the
    // dtype; exact decimals up to precision 28 still fit `id·10¹⁰` inside
    // decimal(38,0).
    val idIsIntegral = docs.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case d: org.apache.spark.sql.types.DecimalType => d.scale == 0 && d.precision <= 28
      case _ => false
    }
    if (idIsIntegral) {
      // (id, start) packed order-preservingly into ONE fixed-width
      // decimal(38,0): `id·10¹⁰ + start` (start is a posexplode position,
      // 0 ≤ start < 2³¹ < 10¹⁰, so packing is injective and lexicographic
      // order is preserved for any long id, negative included). min() over
      // a fixed-width decimal is a HASH aggregate; min(struct(id, start))
      // planned as SortAggregate — a full sort of every gram occurrence on
      // both sides of the exchange (measured ~2× the whole query at
      // sf0.1).
      val grams = gramsBase.withColumn("_pk",
        col(idCol).cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * lit(10000000000L) + col("start"))
      // First occurrence per gram: the packed lexicographic (id, start)
      // minimum. Map-side combinable (a boilerplate gram with 10⁹
      // occurrences — a license header, exactly what this operator hunts —
      // collapses to one row per map partition pre-shuffle).
      val first = grams.groupBy(col("_g")).agg(min(col("_pk")).as("_pk"))
      // Drop the one first-occurrence row per gram via LEFT ANTI on the
      // FULL (gram, packed) key — equality on (_g, _pk) is equality on
      // (_g, id, start) by injectivity. Joining `first` back on `_g` alone
      // would funnel every occurrence of a hot gram through one join
      // partition; the composite key is near-unique, so the shuffle
      // spreads evenly no matter how degenerate a gram's frequency is.
      grams.join(first, Seq("_g", "_pk"), "left_anti")
        .select(col(idCol), col("start"), (col("start") + k).as("end"))
    } else {
      // Fallback for any other orderable id type (string, UUID-ish,
      // fractional): lexicographic min(struct) — plans as SortAggregate,
      // slower, but correct for every orderable dtype. `gramsBase` is
      // evaluated TWICE on this path too, with no reuse: once under the
      // min(struct) aggregate and once as the anti join's probe side, so
      // the spread + split + md5 shingling runs twice per doc. Pin it in
      // this branch if the fallback is ever used at scale.
      val first = gramsBase.groupBy(col("_g"))
        .agg(min(struct(col(idCol), col("start"))).as("_f"))
        .select(col("_g"), col("_f").getField(idCol).as(idCol),
          col("_f").getField("start").as("start"))
      gramsBase.join(first, Seq("_g", idCol, "start"), "left_anti")
        .select(col(idCol), col("start"), (col("start") + k).as("end"))
    }
  }

  /** Merge a doc's marked spans into disjoint islands (classic
    * gaps-and-islands over the start-ordered spans) and report per-doc
    * accounting: island count and duplicated-token total. Windows
    * partition by doc — one shuffle on doc id, no cross-doc state.
    */
  def duplicatedSpanStats(docs: DataFrame, k: Int = 8,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val islands = mergeIslands(duplicatedSpans(docs, k, idCol, textCol), idCol)
    islands.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("end") - col("start")).as("dup_tokens"))
  }

  /** Gaps-and-islands merge of `(idCol, start, end)` spans. */
  private def mergeIslands(spans: DataFrame, idCol: String): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("start"))
    spans
      .withColumn("_runmax",
        max(col("end")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_new",
        when(col("_runmax").isNull || col("start") > col("_runmax"), 1).otherwise(0))
      .withColumn("_island", sum(col("_new")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("_island"))
      .agg(min(col("start")).as("start"), max(col("end")).as("end"))
      .drop("_island")
  }

  /** SemDeDup-style semantic near-dup PAIRS (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication",
    * arXiv 2023): assign every vector to its nearest centroid
    * ([[Ann.assign]] — centroids broadcast, the corpus never shuffles for
    * assignment), then compute cosine only for INTRA-CLUSTER pairs — the
    * paper's key move, making pairwise cost O(sum cluster²) instead of
    * O(n²). Emits `(centroid_id, id_a, id_b, cos)` for pairs with
    * `cos >= threshold`, `id_a < id_b`.
    *
    * Scale shape: the pair join shuffles both sides once on `centroid_id`
    * and all pairwise work stays inside a cluster partition. Size k like
    * the paper (k ≈ √n keeps expected cluster² work ≈ n^1.5 / k); a
    * degenerate cluster degrades to one fat task, same story as the LSH
    * band probe in SCALE.md.
    */
  def semanticPairs(vectors: DataFrame, centroids: DataFrame, threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = Ann.assign(vectors, centroids, idCol, vecCol)
      .select(col(idCol), col("centroid_id"), col(vecCol))
    val a = assigned.select(col("centroid_id"), col(idCol).as("id_a"), col(vecCol).as("_va"))
    val b = assigned.select(col("centroid_id"), col(idCol).as("id_b"), col(vecCol).as("_vb"))
    a.join(b, Seq("centroid_id"))
      .where(col("id_a") < col("id_b"))
      .select(col("centroid_id"), col("id_a"), col("id_b"),
        graft.functions.CosineSimilarity(col("_va"), col("_vb")).as("cos"))
      .where(col("cos") >= lit(threshold))
  }

  /** Semantic dedup: drop every vector that has a [[semanticPairs]]
    * neighbor of lower id (keep-lowest-id — the deterministic analog of
    * SemDeDup's keep-farthest-from-centroid; swap the keep rule by
    * re-ranking pairs before the anti-join). Returns the KEPT rows of
    * `vectors`, schema unchanged.
    */
  def semanticDedup(vectors: DataFrame, centroids: DataFrame, threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dropped = semanticPairs(vectors, centroids, threshold, idCol, vecCol)
      .select(col("id_b").as(idCol)).distinct()
    vectors.join(dropped, Seq(idCol), "left_anti")
  }
}
