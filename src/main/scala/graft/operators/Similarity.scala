package graft.operators

import graft.Tables
import graft.functions.VectorFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnShim, HyperplaneCodes, Rounds}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Similarity search over the `embeddings` table (SURVEY.md §2 A1–A3).
  *
  * Shapes, in ascending scale:
  *   - A1 brute-force: corpus-side scan × broadcast query set, exact.
  *     O(|corpus|·|queries|) codegen'd cosine — the right answer when
  *     the query set is small, and the recall oracle for the others.
  *   - A2 LSH: random-hyperplane signatures; candidates share a band
  *     bucket in ≥1 table. Corpus side is one narrow projection + an
  *     equi-join on the bucket — the scanned fraction drops to the
  *     bucket collision rate.
  *   - A3 IVF: Lloyd-iterated centroids (a tiny driver-side loop over
  *     broadcast centroids — only the k×dim centroid matrix ever leaves
  *     executors); queries probe the nprobe nearest cells, corpus rows
  *     outside probed cells are never touched.
  *
  * All three rerank candidates with the exact codegen'd cosine and
  * deterministic (rounded-sim, vec_id) tie-breaks.
  */
object Similarity {

  /** Corpus scan, spread across cores: the single-file read arrives as
    * one partition, and the signature/assignment math (interpreted
    * higher-order functions) must parallelize. On a cluster the input
    * is many files and this repartition coalesces into the join
    * shuffle the plans need anyway.
    */
  private def corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism)

  /** Embedding dimensionality, read from the data (one single-row job
    * over a limit-1 scan) — never assumed. A dim mismatch between the
    * hyperplanes and the vectors would silently truncate the
    * dot products and degrade recall with no error. Memoized per
    * [[Tables.snapshot]]: the dim is a property of the dataset, and the
    * probe job is pure fixed overhead on every re-run otherwise.
    */
  private val dimCache = new scala.collection.concurrent.TrieMap[(String, Long), Int]
  private[operators] def embeddingDim(spark: SparkSession, dir: String): Int =
    dimCache.getOrElseUpdate(Tables.snapshot(spark, dir, "embeddings"),
      Tables.load(spark, dir, "embeddings")
        .select(size(col("embedding")).as("d")).limit(1).head.getInt(0))

  /** Corpus row count, memoized per table snapshot like
    * [[embeddingDim]] — [[knnJoin]] needs it to size its broadcast
    * blocks, and paying a count job per plan CONSTRUCTION (Round4Spec
    * builds the plan three times) is pure fixed overhead on a static
    * dataset. A rewritten table misses the memo, so the blocks are
    * never sized from a stale count (a silent ≫32 MB block otherwise).
    */
  private val rowsCache = new scala.collection.concurrent.TrieMap[(String, Long), Long]
  private[graft] def embeddingRows(spark: SparkSession, dir: String): Long =
    rowsCache.getOrElseUpdate(Tables.snapshot(spark, dir, "embeddings"),
      Tables.load(spark, dir, "embeddings").count())

  /** The benchmark query set: lowest `nQueries` vec_ids. */
  private def querySet(e: DataFrame, nQueries: Int): DataFrame =
    e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** A1: exact brute-force top-k — broadcast query set × corpus scan,
    * ranked by the MERGEABLE top-k aggregate
    * ([[graft.functions.Aggregators.TopKByScore]]) instead of a window:
    * partial aggregation keeps ≤ k rows per (query, partition) map-side,
    * so only |queries|·k·partitions rows ever cross the shuffle — a
    * window rank would move the entire |queries|·|corpus| candidate
    * stream to the q_id reducers first. The (sim desc, vec_id asc)
    * total order matches the window's tie-break exactly, so the output
    * is bit-identical to the rank formulation (and the DuckDB oracle).
    */
  def bruteForceTopK(spark: SparkSession, dir: String,
                     k: Int = 5, nQueries: Int = 10): DataFrame = {
    val e = corpus(spark, dir)
    val q = broadcast(querySet(e, nQueries))
    rankTopKQueries(
      e.join(q, col("vec_id") =!= col("q_id"))
        .select(col("q_id"),
          round(VectorFunctions.cosine(col("q_emb"), col("embedding")), 4).as("sim"),
          col("vec_id")),
      k)
  }

  /** Shared exact-rerank tail for the query-set ANN paths: merge
    * per-partition top-k rows of (q_id, sim, vec_id) into the final
    * (q_id, rnk, vec_id, sim) ranking via the mergeable aggregate —
    * k rows per (query, partition) cross the shuffle, never the
    * candidate stream. (sim desc, vec_id asc) is a total order, so the
    * result is deterministic at any parallelism and identical to a
    * window-rank formulation.
    */
  private def rankTopKQueries(cand: DataFrame, k: Int): DataFrame = {
    val topk = udaf(graft.functions.Aggregators.TopKByScore(k))
    cand
      .groupBy("q_id")
      .agg(topk(col("sim"), col("vec_id")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "e")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rnk"),
        col("e._2").as("vec_id"), col("e._1").as("sim"))
      .orderBy("q_id", "rnk")
  }

  /** A29: metadata-FILTERED exact top-k — the vector-db feature batch
    * retrieval actually needs ("nearest documents WITH license=X /
    * lang=Y"): the predicate restricts the CANDIDATE side before any
    * scoring, so the scan prices at the filtered fraction and the
    * result is the true top-k of the filtered corpus — not a post-hoc
    * truncation of unfiltered neighbors, which silently returns fewer
    * (or worse) rows under selective predicates. Same mergeable-top-k
    * plan as A1 (k rows per (query, partition) cross the shuffle);
    * deterministic → DuckDB oracle, hash-matched.
    */
  def filteredTopK(spark: SparkSession, dir: String,
                   k: Int = 5, nQueries: Int = 10,
                   labels: Seq[Int] = Seq(3, 7)): DataFrame = {
    val e = corpus(spark, dir)
    val q = broadcast(querySet(e, nQueries))
    rankTopKQueries(
      e.filter(col("label").isInCollection(labels))
        .join(q, col("vec_id") =!= col("q_id"))
        .select(col("q_id"),
          round(VectorFunctions.cosine(col("q_emb"), col("embedding")), 4).as("sim"),
          col("vec_id")),
      k)
  }

  /** A30: filtered IVF with ADAPTIVE probe widening — the scale path
    * for A29. A fixed nprobe starves under selective predicates (a
    * probed cell may hold almost no matching vectors), so the probe
    * depth follows the FILTERED cell histogram: cells are taken in
    * centroid-similarity order until the cumulative matching-vector
    * count reaches `minCand` (a window cumsum over the nCells-row
    * histogram — metadata-scale, no driver loop, per-query depth).
    * Exact rerank on the matching candidates inside probed cells.
    * Probabilistic → rows-only; the spec pins the prefix invariant
    * (every probed cell was needed, coverage reached or exhausted)
    * and measures recall vs A29's exact answer.
    */
  def filteredIvf(spark: SparkSession, dir: String,
                  k: Int = 5, nQueries: Int = 10,
                  labels: Seq[Int] = Seq(3, 7),
                  nCells: Int = 10, minCand: Int = 60,
                  iters: Int = 3): DataFrame = {
    val e = corpus(spark, dir)
    val cents = kmeansCentroids(e, nCells, iters)
    val matching = assignCells(e, cents)
      .filter(col("label").isInCollection(labels))
      .select("vec_id", "embedding", "cell")
    // nCells-row filtered histogram — broadcast to the probe builder
    val cellCounts = matching.groupBy("cell").agg(count(lit(1)).as("n_match"))
    // all cells in similarity order per query, then keep the shortest
    // prefix whose cumulative matching count clears minCand
    val ordered = querySet(e, nQueries)
      .select(col("q_id"), col("q_emb"),
        posexplode(VectorFunctions.nearestCentroids(col("q_emb"), cents, nCells)))
      .withColumnsRenamed(Map("pos" -> "probe_rank", "col" -> "cell"))
      .join(broadcast(cellCounts), Seq("cell"), "left")
      .withColumn("n_match", coalesce(col("n_match"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy("probe_rank")
    val probes = ordered
      .withColumn("cum_before",
        coalesce(sum("n_match").over(w.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .filter(col("cum_before") < minCand)
      .select("q_id", "q_emb", "cell")
    rankTopKQueries(
      matching.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"),
          round(VectorFunctions.cosine(col("q_emb"), col("embedding")), 4).as("sim"),
          col("vec_id")),
      k)
  }

  /** A27: radius (range) similarity search — everything within a
    * cosine THRESHOLD of each query rather than a fixed top-k (the
    * retrieval mode dedup-verification, recall-oriented RAG, and
    * near-dup auditing actually want: "all neighbors closer than τ",
    * however many exist). Per query: the neighbor count inside the
    * radius plus the single best hit, sentinel (-1, -1.0) when the
    * ball is empty — one row per query regardless, so the output
    * shape is |queries| at any corpus size.
    *
    * Scale shape: broadcast query set × one corpus scan scored by the
    * codegen'd cosine kernel, then a map-side-combinable per-query
    * aggregate (a conditional count + a struct-max argmax — the
    * Round-4 keep-first idiom, vec_id negated so the tie-break is
    * ascending). NOTHING candidate-shaped crosses the shuffle: unlike
    * A1's top-k heap this needs no per-partition buffer at all, just
    * |queries| partial rows per partition. The threshold compares the
    * 4dp-ROUNDED similarity (A1's cross-engine contract), so the
    * ball membership itself replays exactly on the oracle. At 100 TB
    * the LSH/IVF bucketing (A2/A3) would pre-filter the scan; exact
    * verify inside the ball stays this plan over the candidates.
    */
  def rangeSearch(spark: SparkSession, dir: String,
                  tau: Double = 0.2, nQueries: Int = 16): DataFrame = {
    val e = corpus(spark, dir)
    val q = broadcast(querySet(e, nQueries))
    val hit = col("sim") >= tau
    e.join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        round(VectorFunctions.cosine(col("q_emb"), col("embedding")), 4).as("sim"),
        col("vec_id"))
      .groupBy("q_id")
      .agg(
        sum(when(hit, 1L).otherwise(0L)).as("n_within"),
        max(when(hit, struct(col("sim"), (-col("vec_id")).as("nid")))).as("best"))
      .select(col("q_id"), col("n_within"),
        coalesce(-col("best.nid"), lit(-1L)).as("best_vec_id"),
        coalesce(col("best.sim"), lit(-1.0)).as("best_sim"))
      .orderBy("q_id")
  }

  /** A18: exact maximum-inner-product top-k (MIPS) — retrieval where
    * MAGNITUDE is the point: recommendation scores, un-normalized
    * output-embedding lookups, learned-sparse rankers. Cosine (A1)
    * deliberately erases length; MIPS keeps it, and the two rankings
    * genuinely differ whenever vector norms vary (spec-checked).
    *
    * Same scale shape as A1: broadcast query set × corpus scan scored
    * by the codegen'd [[org.apache.spark.sql.graft.DotProduct]]
    * kernel, ranked by the mergeable top-k aggregate — ≤ k rows per
    * (query, partition) cross the shuffle. The classic
    * norm-augmentation reduction (append sqrt(M²−‖x‖²) to make MIPS a
    * cosine problem — Bachrach et al., RecSys 2014) is what you'd
    * layer on to reuse the LSH/IVF index paths (A2/A3) at 100 TB;
    * the exact kernel here is both the baseline and the rerank tail
    * those paths share.
    */
  def mipsTopK(spark: SparkSession, dir: String,
               k: Int = 5, nQueries: Int = 10): DataFrame =
    mipsTopKOf(corpus(spark, dir), k, nQueries)

  /** [[mipsTopK]]'s core over ANY (vec_id, embedding) frame — split
    * out so the spec can feed a norm-scaled corpus (the canonical
    * testdata is unit-norm, where MIPS and cosine coincide by
    * construction; magnitude has to be planted to observe the
    * difference).
    */
  private[graft] def mipsTopKOf(e: DataFrame, k: Int, nQueries: Int): DataFrame = {
    val q = broadcast(querySet(e, nQueries))
    rankTopKQueries(
      e.join(q, col("vec_id") =!= col("q_id"))
        .select(col("q_id"),
          round(VectorFunctions.dot(col("q_emb"), col("embedding")), 4).as("sim"),
          col("vec_id")),
      k)
  }

  /** A6: exact kNN JOIN — top-k neighbors for EVERY vector (the
    * similarity graph behind embedding-cluster dedup and diversity
    * sampling), not just a query set.
    *
    * Memory-bounded exact plan: the neighbor side is broadcast in
    * `nBlocks` hash blocks (each bounded at corpus/nBlocks — pick
    * nBlocks so a block fits the broadcast budget; a single full-corpus
    * broadcast is OOM-by-construction at scale). The per-block joins
    * stay narrow (broadcast, no shuffle) and feed ONE mergeable top-k
    * aggregate ([[graft.functions.Aggregators.TopKByScore]]): partial
    * aggregation runs map-side over the unioned candidate stream, so
    * only k rows per (src, partition) cross the shuffle — never the
    * O(n²) candidate set a window rank would move, and no per-block
    * aggregate/explode round-trips (a k-bounded buffer merged once is
    * the same shuffle bound with 1 aggregation instead of nBlocks+1).
    *
    * nBlocks is DATA-DRIVEN ([[knnBlockCount]]): the corpus row count
    * × per-row bytes divided by a fixed per-block broadcast budget, so
    * each broadcast block stays ≤ targetBlockBytes no matter how the
    * corpus grows — a 100× corpus means 100× more (narrow, pipelined)
    * block branches, never a 100× larger broadcast. The O(n²) cosine
    * compute is inherent to exact kNN — the cheap approximate path
    * with the same output contract (and the 100 TB default) is
    * [[knnJoinLsh]].
    */
  def knnJoin(spark: SparkSession, dir: String, k: Int = 3,
              targetBlockBytes: Long = 32L << 20): DataFrame = {
    val nBlocks = knnBlockCount(
      embeddingRows(spark, dir), embeddingDim(spark, dir), targetBlockBytes)
    val e = corpus(spark, dir).select(col("vec_id").as("src"), col("embedding"))
    val topk = udaf(graft.functions.Aggregators.TopKByScore(k))
    val partials = (0 until nBlocks).map { b =>
      val blk = broadcast(
        Tables.load(spark, dir, "embeddings")
          .filter(pmod(col("vec_id"), lit(nBlocks)) === b)
          .select(col("vec_id").as("nbr"), col("embedding").as("nbr_emb")))
      e.join(blk, col("src") =!= col("nbr"))
        .select(col("src"),
          round(VectorFunctions.cosine(col("embedding"), col("nbr_emb")), 4).as("sim"),
          col("nbr"))
    }
    rankTopK(partials.reduce(_ unionByName _), topk)
  }

  /** Broadcast block count for [[knnJoin]]: enough hash blocks that
    * each holds ≤ targetBytes of (vec_id, float[dim]) rows. The row
    * estimate (id long + unsafe array header + 4B floats + row
    * overhead) is deliberately generous — a block must FIT the
    * executor's broadcast budget, not merely average out to it.
    * Pure arithmetic (no Spark) so the spec can pin the bound at any
    * synthetic corpus size.
    */
  private[graft] def knnBlockCount(rows: Long, dim: Int,
                                   targetBytes: Long = 32L << 20): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val rowBytes = 8L + 16L + 4L * dim + 24L
    math.max(1L, math.ceil(rows.toDouble * rowBytes / targetBytes).toLong).toInt
  }

  /** Shared tail of the kNN joins: merge per-block/per-bucket partial
    * top-k rows into the final per-src ranking. Input: (src, sim, nbr).
    */
  private def rankTopK(partial: DataFrame,
                       topk: org.apache.spark.sql.expressions.UserDefinedFunction): DataFrame =
    partial
      .groupBy("src")
      .agg(topk(col("sim"), col("nbr")).as("nn"))
      .select(col("src"), posexplode(col("nn")).as(Seq("pos", "e")))
      .select(col("src"), (col("pos") + 1).cast("int").as("rk"),
        col("e._2").as("nbr"), col("e._1").as("sim"))
      .orderBy("src", "rk")

  /** The full-corpus-broadcast exact form — kept ONLY as the spec
    * oracle for [[knnJoin]]/[[knnJoinLsh]] (one broadcast, one window;
    * simplest possible exact plan, fine at spec SF, OOM at scale).
    */
  private[graft] def knnJoinBroadcast(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val e = corpus(spark, dir)
    val nbrs = broadcast(
      Tables.load(spark, dir, "embeddings")
        .select(col("vec_id").as("nbr"), col("embedding").as("nbr_emb")))
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("nbr"))
    e.select(col("vec_id").as("src"), col("embedding"))
      .join(nbrs, col("src") =!= col("nbr"))
      .withColumn("sim", round(VectorFunctions.cosine(col("embedding"), col("nbr_emb")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("src", "rk", "nbr", "sim")
      .orderBy("src", "rk")
  }

  /** A6b: approximate kNN join via LSH blocking — the 100 TB default
    * when exact isn't required. Candidates = pairs sharing a band
    * bucket in ≥1 table (the D3/A2 blocking applied to the self-join),
    * exact cosine rerank per candidate, same mergeable top-k tail as
    * [[knnJoin]]. The bucket join moves (id, id) pairs only — vectors
    * re-join by key for the rerank — so shuffle volume is
    * candidate-linear, not corpus². Probabilistic recall (tunable via
    * nTables/bits) → rows-only driver check; the spec measures recall
    * vs the exact [[knnJoin]].
    */
  def knnJoinLsh(spark: SparkSession, dir: String, k: Int = 3,
                 nTables: Int = 16, bitsPerTable: Int = 4,
                 seed: Long = 42L, targetOccupancy: Long = 128L): DataFrame = {
    // rerank sides join by key (and broadcast when small) — the corpus
    // spread's round-robin exchange under them was pure overhead (r14)
    val e = Tables.load(spark, dir, "embeddings")
    // Depth follows the corpus (the memoized count — same probe the
    // exact knnJoin sizes its blocks with): E[bucket] = n / 2^bits, so
    // bits = max(floor, ceil(log2(n / targetOccupancy))) pins expected
    // occupancy ≤ targetOccupancy and candidate pairs per table to
    // ≈ n·occupancy — LINEAR in n. A fixed depth is quadratic by
    // construction (occupancy ∝ n → pairs ∝ n²/2^bits): measured 52×
    // wall at 10× data before this. Deeper codes trade per-table
    // recall for pruning; at production scale recall is recovered by
    // raising nTables (the standard (bits, tables) LSH dial), and the
    // spec's measured recall floor applies at the spec corpus where
    // the floor depth is active.
    val pairs = knnLshPairs(spark, dir, nTables, bitsPerTable, seed, targetOccupancy)
    val cand = pairs
      .join(e.select(col("vec_id").as("src"), col("embedding")), Seq("src"))
      .join(e.select(col("vec_id").as("nbr"), col("embedding").as("nbr_emb")), Seq("nbr"))
      .select(col("src"),
        round(VectorFunctions.cosine(col("embedding"), col("nbr_emb")), 4).as("sim"),
        col("nbr"))
    rankTopK(cand, udaf(graft.functions.Aggregators.TopKByScore(k)))
  }

  /** [[knnJoinLsh]]'s candidate-pair stage, split out so the scale
    * spec can MEASURE the occupancy law instead of trusting it:
    * distinct (src, nbr) pairs sharing a band bucket in ≥ 1 table.
    * The law: bits = lshDepth(n) pins E[bucket] ≤ targetOccupancy, so
    * expected pairs ≤ nTables · n · targetOccupancy — linear in n with
    * an occupancy-drift constant (occupancy saw-tooths within
    * [target/2, target] as ceil(log2) steps). Round14Spec builds the
    * 10× corpus and asserts both the absolute bound and that
    * per-vector candidate load does not grow at the step — the
    * empirical pin VERDICT r6 required before un-flagging this
    * operator's measured 10× wall ratio.
    */
  private[graft] def knnLshPairs(spark: SparkSession, dir: String,
                                 nTables: Int = 16, bitsPerTable: Int = 4,
                                 seed: Long = 42L,
                                 targetOccupancy: Long = 128L): DataFrame = {
    val bits = lshDepth(embeddingRows(spark, dir), bitsPerTable, targetOccupancy)
    val buckets = lshBuckets(spark, dir, nTables, bits, seed)
    buckets
      .join(buckets.select(col("vec_id").as("nbr"), col("tbl"), col("code")), Seq("tbl", "code"))
      .filter(col("vec_id") =!= col("nbr"))
      .select(col("vec_id").as("src"), col("nbr"))
      .distinct()
  }

  /** (vec_id, tbl, code) bucket assignments at an explicit depth. */
  private[graft] def lshBuckets(spark: SparkSession, dir: String,
                                nTables: Int, bits: Int, seed: Long): DataFrame = {
    val e = corpus(spark, dir)
    val dim = embeddingDim(spark, dir)
    val tables = hyperplanes(dim, nTables, bits, seed)
    e.select(col("vec_id"), posexplode(
        ColumnShim.column(HyperplaneCodes(ColumnShim.expression(col("embedding")), tables))))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "code"))
  }

  /** The probe-side explode for multiprobe LSH: every code within
    * Hamming distance ≤ `probe` of the vector's own code (own + single
    * flips + pair flips). 1 + bits + C(bits,2) probes per (vec, table).
    */
  private def probeCodes(bits: Int, probe: Int): Seq[org.apache.spark.sql.Column] = {
    val own = Seq(col("code"))
    val one = (0 until bits).map(j => col("code").bitwiseXOR(lit(1L << j)))
    val two = for (a <- 0 until bits; b <- a + 1 until bits)
      yield col("code").bitwiseXOR(lit((1L << a) | (1L << b)))
    probe match {
      case 0 => own
      case 1 => own ++ one
      case _ => own ++ one ++ two
    }
  }

  /** The tuned sweep's PREFIX-POOL depth (VERDICT r14 next-round #1):
    * every depth the budget loop can reach slices the low `bits` bits
    * of ONE pool-depth code, so the whole sweep shares a single
    * signature scan. 30 matches [[lshDepth]]'s cap — no reachable
    * depth can outrun the pool.
    */
  private val PoolBits = 30

  /** (vec_id, tbl, code) bucket assignments at [[PoolBits]] depth from
    * the per-table hyperplane POOL: table t's depth-b planes are the
    * FIRST b planes of its 30-plane pool, so depth-b codes are the low
    * b bits of these codes (bit i = plane i — [[HyperplaneCodes]]'s
    * packing). Statistical contract unchanged: each table still has
    * `bits` iid Gaussian planes, independent across tables — only the
    * concrete draw differs from the old per-depth `hyperplanes(…,
    * bits, …)` call (which re-drew a fresh matrix per depth, forcing
    * the tuning sweep to recompute the corpus signature scan at every
    * depth it probed).
    */
  private[graft] def lshPoolBuckets(spark: SparkSession, dir: String,
                                    nTables: Int, seed: Long): DataFrame =
    lshBuckets(spark, dir, nTables, PoolBits, seed)

  /** Low-`bits` prefix slice of pool-depth bucket codes. */
  private def sliceBuckets(pool: DataFrame, bits: Int): DataFrame =
    pool.select(col("vec_id"), col("tbl"),
      col("code").bitwiseAND(lit((1L << bits) - 1)).as("code"))

  /** Multiprobe candidate pairs at an explicit depth over a prepared
    * (vec_id, tbl, code) bucket table: the probe side lands in its own
    * bucket and every bucket ≤ `probe` bit-flips away, then equi-joins
    * the plain bucket table; returns the directed (src, nbr) pairs
    * before distinct.
    */
  private def probedPairsFrom(buckets: DataFrame, bits: Int,
                              probe: Int): DataFrame = {
    val probed = buckets.select(col("vec_id"), col("tbl"),
      explode(array(probeCodes(bits, probe): _*)).as("code"))
    probed
      .join(buckets.select(col("vec_id").as("nbr"), col("tbl"), col("code")), Seq("tbl", "code"))
      .filter(col("vec_id") =!= col("nbr"))
      .select(col("vec_id").as("src"), col("nbr"))
  }

  /** Multiprobe candidate pairs at an explicit depth, codes drawn from
    * the prefix pool ([[lshPoolBuckets]]) — the SAME draw the tuned
    * budget loop measures, so the spec's standalone re-measurement at
    * the tuned depth reproduces the loop's number exactly.
    */
  private[graft] def probedPairs(spark: SparkSession, dir: String,
                                 nTables: Int, bits: Int, seed: Long,
                                 probe: Int): DataFrame =
    probedPairsFrom(sliceBuckets(lshPoolBuckets(spark, dir, nTables, seed), bits),
      bits, probe)

  /** ONE bucket join for the whole budget sweep: the candidate pairs
    * at the STARTING depth `b0`, each carrying `maxd` — the deepest
    * prefix depth (≤ [[PoolBits]]) at which the pair is still a
    * multiprobe candidate. Per-table prefix Hamming distance is
    * non-decreasing in the prefix length, so (a) candidate sets
    * shrink monotonically with depth — every depth the loop can visit
    * is a SUBSET of the depth-b0 set — and (b) a pair is a candidate
    * at depth b ≥ b0 iff some table matched at b0 has its
    * (probe+1)-th xor bit at index ≥ b. `maxd` is therefore
    * max over matched tables of (index of the (probe+1)-th set bit of
    * pool_code_src XOR pool_code_nbr), PoolBits when fewer bits
    * differ, and the depth-b candidate set is EXACTLY {maxd ≥ b}:
    * the sweep's every count and the accepted pair set read off this
    * one frame instead of re-running the probe-explode join per depth
    * (measured r15: the loop walks 4 rounds at sf0.1, each ~1.3 s of
    * join/distinct — the dominant slice of the operator after the
    * r14/r15 pool fix removed the per-depth signature scans).
    */
  private[graft] def pairDepthProfile(pool: DataFrame, b0: Int,
                                      probe: Int): DataFrame = {
    val mask = (1L << b0) - 1
    // probe side: full pool code rides along; flips apply to the
    // depth-b0 slice (the join key)
    val probed = pool
      .select(col("vec_id"), col("tbl"), col("code").as("pcode"),
        col("code").bitwiseAND(lit(mask)).as("code"))
      .select(col("vec_id"), col("tbl"), col("pcode"),
        explode(array(probeCodes(b0, probe): _*)).as("code"))
    val matches = probed
      .join(pool.select(col("vec_id").as("nbr"), col("tbl"),
        col("code").as("ncode"),
        col("code").bitwiseAND(lit(mask)).as("code")), Seq("tbl", "code"))
      .filter(col("vec_id") =!= col("nbr"))
    // index of the (probe+1)-th set bit of the full-code xor = the
    // last prefix depth with ≤ probe differing planes for this table;
    // PoolBits when fewer than probe+1 bits differ. Exact integer bit
    // arithmetic, all codegen built-ins: clear the lowest set bit
    // `probe` times, then the index of the remaining lowest set bit
    // is bit_count((y & -y) - 1).
    val xorCol = col("pcode").bitwiseXOR(col("ncode"))
    val cleared = (1 to probe).foldLeft(xorCol)((y, _) =>
      y.bitwiseAND(y - lit(1L)))
    val depthRow = when(cleared === lit(0L), lit(PoolBits))
      .otherwise(bit_count(cleared.bitwiseAND(-cleared) - lit(1L)))
    matches
      .select(col("vec_id").as("src"), col("nbr"), depthRow.as("d"))
      .groupBy("src", "nbr")
      .agg(max(col("d")).as("maxd"))
  }

  /** The CLOSED candidate-budget loop (VERDICT r9 "Next round" #3): at
    * fixed provisioning the measured candidate load drifted 321 → 1197
    * pairs/vec across one decade (within the uniform-expectation
    * ceiling — the skew the n/2^bits formula cannot see). The tuned
    * depth follows the MEASUREMENT: start at the uniform depth,
    * measure the probed candidate-join load (one count, no pairs
    * materialized or verified), and add ceil(log2(measured/cap)) bits
    * until the load is under `capPairsPerVec` (≤4 rounds; uniform
    * halving per bit makes the multiplicative step converge in ~2
    * rounds for a decade of drift). Deep codes alone would trade the
    * bound for recall — that is why [[knnJoinLshTuned]] pairs the loop
    * with Hamming-≤2 MULTIPROBE, which re-finds the near-miss buckets
    * a deep code splits: measured on the 10× corpus, probe-2 at the
    * tuned depth holds ~0.8 recall at ~970 pairs/vec where the plain
    * deep code manages 0.37 at the same budget. Tuning cost: one
    * candidate-count join per round; at production scale the chosen
    * (bits, probe) is cached per corpus snapshot, not re-probed per
    * query.
    */
  private[graft] def tunedProbeBits(spark: SparkSession, dir: String,
                                    nTables: Int, seed: Long,
                                    capPairsPerVec: Double,
                                    probe: Int): (Int, Double) = {
    val (bits, measured, _) =
      tunedProbePairs(spark, dir, nTables, seed, capPairsPerVec, probe)
    (bits, measured)
  }

  /** The budget loop PLUS the final depth's measured candidate pairs:
    * the loop's last `distinct().count()` already materializes exactly
    * the pair set the query then reranks, so the frame rides back
    * behind a localCheckpoint instead of being recomputed from the
    * bucket join a second time (the recompute was the single biggest
    * slice of A28's bench time — the candidate join is the operator's
    * dominant stage and ran twice per invocation).
    */
  private def tunedProbePairs(spark: SparkSession, dir: String,
                              nTables: Int, seed: Long,
                              capPairsPerVec: Double,
                              probe: Int): (Int, Double, DataFrame) = {
    val n = math.max(1L, embeddingRows(spark, dir))
    var bits = lshDepth(n, 4, 128L)
    // ONE signature scan AND ONE bucket join for the whole sweep
    // (VERDICT r14 #1, completed r15): the pool-depth codes are
    // computed once; the depth-b0 probe join materializes every pair
    // the loop can ever see, profiled by its deepest candidate depth
    // ([[pairDepthProfile]] — prefix-slice candidate sets shrink
    // monotonically with depth). Each probed depth is then ONE
    // metadata-cheap count over the materialized profile; the
    // accepted depth's pair set is a filter of the same frame. The
    // r14 shape re-drew hyperplanes and re-ran the corpus scan per
    // depth; the first r15 shape shared the scan but still re-ran the
    // probe-explode join + distinct per depth (measured: 4 loop
    // rounds × ~1.3 s at sf0.1 — the operator's dominant slice).
    val profile = Rounds(spark) { rs =>
      rs.checkpoint(pairDepthProfile(
        rs.checkpoint(lshPoolBuckets(spark, dir, nTables, seed)), bits, probe))
    }
    // DISTINCT pairs — the quantity the verify stage actually pays
    // for and the spec reports; the profile aggregate is per directed
    // pair, so a filtered count IS the depth's distinct-pair count
    def measuredAt(b: Int): Double =
      profile.filter(col("maxd") >= b).count().toDouble / n
    var measured = measuredAt(bits)
    var rounds = 0
    while (measured > capPairsPerVec && bits < PoolBits && rounds < 4) {
      bits = math.min(PoolBits, bits + math.max(1,
        math.ceil(math.log(measured / capPairsPerVec) / math.log(2.0)).toInt))
      measured = measuredAt(bits)
      rounds += 1
    }
    (bits, measured, profile.filter(col("maxd") >= bits).select("src", "nbr"))
  }

  /** A28: the self-tuned multiprobe LSH kNN join — [[knnJoinLsh]]'s
    * scale-hardened sibling. Depth comes from [[tunedProbeBits]]'s
    * measured budget loop (candidate pairs per vector stay under
    * `capPairsPerVec` at EVERY corpus size — the invariant that makes
    * cost per vector flat across decades), recall comes from Hamming-≤2
    * multiprobe at that depth; exact cosine rerank on the surviving
    * candidates, same output contract as A12. Probabilistic →
    * rows-only; Round14Spec measures pairs/vec AND recall at 1× and
    * the 10× corpus, numbers in RECALL_r10.
    */
  def knnJoinLshTuned(spark: SparkSession, dir: String, k: Int = 3,
                      nTables: Int = 16, seed: Long = 42L,
                      capPairsPerVec: Double = 1024.0,
                      probe: Int = 2): DataFrame = {
    // rerank sides join by key — skip the corpus spread (r14, as A12)
    val e = Tables.load(spark, dir, "embeddings")
    // the tuning loop's final measurement IS the candidate set — rerank
    // the materialized pairs instead of re-running the bucket join
    val (_, _, pairs) =
      tunedProbePairs(spark, dir, nTables, seed, capPairsPerVec, probe)
    val cand = pairs
      .join(e.select(col("vec_id").as("src"), col("embedding")), Seq("src"))
      .join(e.select(col("vec_id").as("nbr"), col("embedding").as("nbr_emb")), Seq("nbr"))
      .select(col("src"),
        round(VectorFunctions.cosine(col("embedding"), col("nbr_emb")), 4).as("sim"),
        col("nbr"))
    rankTopK(cand, udaf(graft.functions.Aggregators.TopKByScore(k)))
  }

  /** [[knnJoinLsh]]'s occupancy law, split out so the spec can pin the
    * arithmetic on synthetic sizes (the [[knnJoin]] block-bound
    * pattern): smallest depth ≥ `floor` with n / 2^bits ≤ `target`,
    * capped at 30 bits.
    */
  private[graft] def lshDepth(n: Long, floor: Int, target: Long): Int =
    math.min(30, math.max(floor,
      math.ceil(math.log(math.max(1.0, n.toDouble / target)) / math.log(2.0)).toInt))

  /** Deterministic random hyperplanes: `nTables` tables × `bitsPerTable`
    * planes, components from a seeded xorshift-free PRNG
    * (scala.util.Random(seed) is stable across JVM runs).
    */
  private[operators] def hyperplanes(dim: Int, nTables: Int, bitsPerTable: Int,
                                     seed: Long): Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nTables)(Seq.fill(bitsPerTable)(Seq.fill(dim)(rnd.nextGaussian())))
  }

  /** A2: LSH-bucketed ANN. Candidate = corpus vector sharing a bucket
    * with the query in ≥1 of the tables; exact cosine rerank on the
    * candidates. Probabilistic recall (tunable via nTables) → rows-only
    * driver check; the spec measures recall vs [[bruteForceTopK]].
    *
    * Defaults (16 tables × 4 bits) are sized for a weak-similarity
    * corpus: p(bit agrees | cos=0.4) ≈ 0.63 → per-table collision
    * 0.63⁴ ≈ 0.16 → recall ≈ 1−(1−0.16)¹⁶ ≈ 0.94. For a near-dup
    * corpus (cos ≥ 0.9) the economical setting is 8 tables × 8–16 bits,
    * which prunes much harder.
    */
  def lshAnn(spark: SparkSession, dir: String,
             k: Int = 5, nQueries: Int = 10,
             nTables: Int = 16, bitsPerTable: Int = 4,
             seed: Long = 42L): DataFrame = {
    val e = corpus(spark, dir)
    val dim = embeddingDim(spark, dir)
    val tables = hyperplanes(dim, nTables, bitsPerTable, seed)
    // all table codes in ONE native compiled pass per row (the
    // per-plane Column dot products are interpreted HOFs — they were
    // the corpus scan's bottleneck); posexplode recovers (tbl, code)
    def codes(embCol: String): org.apache.spark.sql.Column =
      ColumnShim.column(HyperplaneCodes(ColumnShim.expression(col(embCol)), tables))
    // bucket join + dedup run on (id, id) pairs ONLY — never shuffle or
    // hash-compare the 64-float embedding arrays; they re-join (corpus
    // side by key, query side broadcast) just for the final rerank
    val corpusBuckets = e.select(col("vec_id"), posexplode(codes("embedding")))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "code"))
    // query-side and rerank-side reads skip the corpus spread: those
    // sides are broadcast (or joined by key), so the round-robin
    // exchange under the broadcast was pure overhead (r14 plan audit
    // — `Exchange RoundRobinPartitioning` directly under
    // `BroadcastExchange`); only the signature scan above needs the
    // compute spread
    val raw = Tables.load(spark, dir, "embeddings")
    val queryBuckets = broadcast(
      querySet(raw, nQueries).select(col("q_id"), posexplode(codes("q_emb")))
        .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "code")))
    val candIds = corpusBuckets.join(queryBuckets, Seq("tbl", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id")
      .distinct()
    val cand = candIds
      .join(raw, Seq("vec_id"))
      .join(broadcast(querySet(raw, nQueries)), Seq("q_id"))
    rankTopKQueries(
      cand.select(col("q_id"),
        round(VectorFunctions.cosine(col("q_emb"), col("embedding")), 4).as("sim"),
        col("vec_id")),
      k)
  }

  /** A17: Matryoshka truncation evaluation — for each prefix length
    * d' (MRL-style nested embeddings: the first d' dimensions used as
    * a d'-dim embedding), the exact top-k recall vs the full-dimension
    * ranking. This is the sizing study run before committing a corpus
    * to truncated vectors (4× bandwidth at d/4 IF recall holds) — an
    * EVAL operator: production runs it over a query sample, so the
    * O(|prefixes|·n·|queries|·d) brute-force cost is the point, not a
    * scale hazard; the per-(prefix, query) ranking still uses the
    * mergeable top-k (k rows per group per partition cross the
    * shuffle).
    *
    * Deterministic end to end (exact cosine, 4-dp rounding, (sim desc,
    * vec_id) ties; recall counts are integers) → DuckDB-oracled, the
    * only approximation being the one under study.
    */
  def embMatryoshka(spark: SparkSession, dir: String,
                    k: Int = 5, nQueries: Int = 10,
                    prefixes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val e = corpus(spark, dir)
    val q = broadcast(querySet(e, nQueries))
    val topk = udaf(graft.functions.Aggregators.TopKByScore(k))
    val top = e.join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("q_emb"), col("embedding"),
        explode(typedlit(prefixes)).as("dp"))
      .select(col("dp"), col("q_id"),
        round(VectorFunctions.cosine(
          slice(col("q_emb"), lit(1), col("dp")),
          slice(col("embedding"), lit(1), col("dp"))), 4).as("sim"),
        col("vec_id"))
      .groupBy("dp", "q_id").agg(topk(col("sim"), col("vec_id")).as("nn"))
      .select(col("dp"), col("q_id"), explode(col("nn")).as("s"))
      .select(col("dp"), col("q_id"), col("s._2").as("vec_id"))
    val full = top.filter(col("dp") === prefixes.max)
      .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
    top.join(full, Seq("q_id", "vec_id"), "left")
      .groupBy(col("dp").as("dim_prefix"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_matched"),
        count(lit(1)).as("n_total"))
      .select(col("dim_prefix"), col("n_matched"), col("n_total"),
        round(col("n_matched").cast("double") * 1e6 / col("n_total")).cast("long")
          .as("recall_micro"))
      .orderBy("dim_prefix")
  }

  /** A16: scalar-quantized (SQ8) ANN — the 4× bandwidth rung between
    * raw floats and PQ's 32×, and what production vector stores ship
    * as the default compression (faiss SQ8 / Milvus SQ): each vector
    * becomes one double scale + one byte per dimension, and the scan
    * scores candidates with an EXACT integer dot product rescaled
    * once per pair — no codebook training, and far better fidelity
    * than PQ at 8× less compression.
    *
    * Plan: corpus encodes in the scan projection (narrow; bytes are
    * what a 100 TB store would persist), the query side broadcasts
    * (codes + scales for `nQueries` rows), the approximate score
    * shortlists via the mergeable top-k aggregate, and the exact
    * float cosine reranks shortlist·queries rows only — the pqAnn
    * skeleton with SQ8 in place of ADC. Probabilistic-shaped
    * (quantization error) → rows-only driver check; the spec pins
    * recall vs brute force.
    */
  def sqAnn(spark: SparkSession, dir: String,
            kNN: Int = 5, nQueries: Int = 10, shortlist: Int = 64): DataFrame = {
    val e = corpus(spark, dir).select(col("vec_id"),
      VectorFunctions.l2normalize(col("embedding")).as("embedding"))
    val encoded = e.select(col("vec_id"),
      VectorFunctions.sq8Codes(col("embedding")).as("codes"),
      VectorFunctions.sq8Scale(col("embedding")).as("sc"))
    val queries = broadcast(querySet(e, nQueries)
      .select(col("q_id"), col("q_emb"),
        VectorFunctions.sq8Codes(col("q_emb")).as("q_codes"),
        VectorFunctions.sq8Scale(col("q_emb")).as("q_sc")))
    val score = when(col("sc") === 0.0 || col("q_sc") === 0.0, lit(0.0))
      .otherwise(VectorFunctions.sq8Dot(col("codes"), col("q_codes")).cast("double") /
        (col("sc") * col("q_sc")))
    val topk = udaf(graft.functions.Aggregators.TopKByScore(shortlist))
    val short = encoded
      .join(queries.select("q_id", "q_codes", "q_sc"), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), score.as("score"), col("vec_id"))
      .groupBy("q_id").agg(topk(col("score"), col("vec_id")).as("nn"))
      .select(col("q_id"), explode(col("nn")).as("s"))
      .select(col("q_id"), col("s._2").as("vec_id"))
    rankTopKQueries(
      short
        .join(e, Seq("vec_id"))
        .join(queries.select("q_id", "q_emb"), Seq("q_id"))
        .select(col("q_id"),
          round(VectorFunctions.cosine(col("q_emb"), col("embedding")), 4).as("sim"),
          col("vec_id")),
      kNN)
  }

  /** A9: product-quantization ANN (the PQ half of FAISS's IVF-PQ; A3
    * demonstrates the IVF coarse stage): vectors compress to `m` small
    * codes and the search never touches floats until the final rerank.
    *
    *   1. Codebooks: `m` subspaces × `k` centroids, Lloyd-trained
    *      ([[trainCodebooks]]) on a deterministic hash-ordered sample
    *      of ≤ `trainSample` vectors — the classic PQ recipe (faiss
    *      trains on a bounded sample too, so the driver-side k-means
    *      is O(sample·k·dim·iters) regardless of corpus size).
    *   2. Encode: one compiled argmin-L2 pass per row
    *      ([[org.apache.spark.sql.graft.PqEncode]]) — 64 floats → 8
    *      ints, a 32× cut in what the ANN scan reads and ships. Narrow.
    *   3. ADC (asymmetric distance computation): per query, dot-product
    *      lookup tables vs every codebook entry, computed IN the plan
    *      on the (tiny) query side; approximate dot(q, x) =
    *      Σ_j table[j·k + code_j] — m array lookups per (query, vec),
    *      no vector arithmetic in the hot loop.
    *   4. Shortlist by ADC score with the mergeable top-k aggregate
    *      (only `shortlist` ids per (query, partition) cross the
    *      shuffle), then exact cosine rerank on the shortlist only.
    *
    * Embeddings are L2-normalized before encoding so ADC dot ranking
    * estimates cosine ranking. Probabilistic recall → rows-only driver
    * check; Round5Spec measures recall vs the exact brute force.
    */
  def pqAnn(spark: SparkSession, dir: String,
            kNN: Int = 5, nQueries: Int = 10,
            m: Int = 8, k: Int = 256, shortlist: Int = 64,
            trainSample: Int = 4096, trainIters: Int = 5): DataFrame = {
    val dim = embeddingDim(spark, dir)
    val sub = dim / m
    require(sub * m == dim, s"dim $dim not divisible into $m subspaces")
    val e = corpus(spark, dir).select(col("vec_id"),
      VectorFunctions.l2normalize(col("embedding")).as("embedding"))
    val codebooks = trainCodebooks(e, m, k, sub, trainSample, trainIters)
    val encoded = e.select(col("vec_id"), col("embedding"),
      VectorFunctions.pqEncode(col("embedding"), codebooks).as("codes"))
    // per-query ADC tables, built in-plan on the nQueries-row side:
    // tables[j*k + c] = dot(q_sub_j, codebook[j][c]) — a native
    // expression (one primitive loop), NOT a transform/aggregate HOF:
    // the HOF form re-evaluated its q_emb child (with the inlined
    // normalization) once per table entry per component — ~10⁸
    // interpreted ops for a 10-row query set (see PqAdcTables doc).
    val queries = broadcast(
      querySet(e, nQueries).select(col("q_id"), col("q_emb"),
        VectorFunctions.pqAdcTables(col("q_emb"), codebooks).as("tbl")))
    // native ADC lookup — the |corpus|·|queries| hot loop; the HOF
    // `aggregate` form costs ~0.1 ms/row in interpreted lambda machinery
    val adc = VectorFunctions.pqAdcScore(col("codes"), col("tbl"))
    val topk = udaf(graft.functions.Aggregators.TopKByScore(shortlist))
    val short = encoded.select(col("vec_id"), col("codes"))
      .join(queries.select("q_id", "tbl"), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), adc.as("score"), col("vec_id"))
      .groupBy("q_id").agg(topk(col("score"), col("vec_id")).as("nn"))
      .select(col("q_id"), explode(col("nn")).as("s"))
      .select(col("q_id"), col("s._2").as("vec_id"))
    // exact rerank touches floats for shortlist·nQueries rows only
    rankTopKQueries(
      short
        .join(e, Seq("vec_id"))
        .join(queries.select("q_id", "q_emb"), Seq("q_id"))
        .select(col("q_id"),
          round(VectorFunctions.cosine(col("q_emb"), col("embedding")), 4).as("sim"),
          col("vec_id")),
      kNN)
  }

  /** A25: IVF-PQ composite ANN — the FAISS workhorse index, both
    * dials at once: the IVF coarse quantizer cuts the FRACTION of the
    * corpus scanned per query (~nprobe/nCells), and PQ cuts the BYTES
    * per scanned vector (dim floats → m codes, 32× here) — combined,
    * the per-query cost is (nprobe/nCells)·n·m table lookups plus an
    * exact rerank on the shortlist. PQ encodes the raw normalized
    * vectors, not cell residuals (`by_residual=false`), which is the
    * standard FAISS configuration for inner-product/cosine metrics —
    * ADC tables then depend only on the query, not the probed cell,
    * so ONE table broadcast serves every probe (the residual form
    * needs a table per (query, cell) and pays off for L2, stated).
    *
    * Plan: cell assignment and PQ codes are both narrow projections
    * born in the scan ([[assignCells]] / native pqEncode); the probe
    * is an equi-join of the encoded corpus against the broadcast
    * (query, probed-cell, ADC-table) rows; the shortlist is the
    * mergeable top-k aggregate (shortlist rows per (query, partition)
    * cross the shuffle); floats are touched only for
    * shortlist·queries rerank rows. Probabilistic (trained coarse +
    * fine quantizers) → rows-only; recall floor pinned in
    * SimilaritySpec, measured value in RECALL.
    */
  def ivfpqAnn(spark: SparkSession, dir: String,
               kNN: Int = 5, nQueries: Int = 10,
               nCells: Int = 10, nprobe: Int = 6, coarseIters: Int = 3,
               m: Int = 8, k: Int = 256, shortlist: Int = 64,
               trainSample: Int = 4096, trainIters: Int = 5): DataFrame = {
    val dim = embeddingDim(spark, dir)
    val sub = dim / m
    require(sub * m == dim, s"dim $dim not divisible into $m subspaces")
    val e = corpus(spark, dir).select(col("vec_id"),
      VectorFunctions.l2normalize(col("embedding")).as("embedding"))
    val coarse = kmeansCentroids(e, nCells, coarseIters)
    val codebooks = trainCodebooks(e, m, k, sub, trainSample, trainIters)
    val encoded = assignCells(e, coarse)
      .select(col("vec_id"), col("cell"),
        VectorFunctions.pqEncode(col("embedding"), codebooks).as("codes"))
    val queries = querySet(e, nQueries)
      .select(col("q_id"), col("q_emb"),
        VectorFunctions.pqAdcTables(col("q_emb"), codebooks).as("tbl"))
    val probes = broadcast(
      queries.select(col("q_id"), col("tbl"),
        explode(VectorFunctions.nearestCentroids(col("q_emb"), coarse, nprobe)).as("cell")))
    val topk = udaf(graft.functions.Aggregators.TopKByScore(shortlist))
    val short = encoded
      .join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), VectorFunctions.pqAdcScore(col("codes"), col("tbl")).as("score"),
        col("vec_id"))
      .groupBy("q_id").agg(topk(col("score"), col("vec_id")).as("nn"))
      .select(col("q_id"), explode(col("nn")).as("s"))
      .select(col("q_id"), col("s._2").as("vec_id"))
    rankTopKQueries(
      short
        .join(e, Seq("vec_id"))
        .join(broadcast(queries.select("q_id", "q_emb")), Seq("q_id"))
        .select(col("q_id"),
          round(VectorFunctions.cosine(col("q_emb"), col("embedding")), 4).as("sim"),
          col("vec_id")),
      kNN)
  }

  /** PQ codebook training: per-subspace Lloyd (k-means) over a
    * DETERMINISTIC bounded sample — the lowest-`xxhash64(vec_id)`
    * `sampleN` vectors (TakeOrdered, one narrow pass; hash order is a
    * uniform draw that ignores any physical clustering of vec_ids).
    * Seeds are the first `k` sample vectors in hash order; `iters`
    * Lloyd rounds then run on the driver over the collected sample —
    * O(sampleN·k·dim·iters) pure-Scala arithmetic, fixed iteration
    * order, so the codebooks are bit-deterministic and independent of
    * corpus size (the faiss posture: PQ trains on a sample, encodes
    * the world). Empty cells keep their previous centroid. Versus the
    * round-5 first-k-vectors "codebook", trained centroids cut the
    * quantization error that capped ADC recall at 0.76.
    */
  private[operators] def trainCodebooks(
      e: DataFrame, m: Int, k: Int, sub: Int,
      sampleN: Int, iters: Int): Seq[Seq[Seq[Double]]] = {
    val sample: Array[Array[Double]] = e
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleN)
      .select(col("embedding")).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)
    require(sample.length >= k, s"PQ training sample ${sample.length} < k=$k")
    (0 until m).map { j =>
      val pts = sample.map(_.slice(j * sub, (j + 1) * sub))
      var cents: Array[Array[Double]] = pts.take(k).map(_.clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val counts = new Array[Int](k)
        pts.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var d = 0.0; var i = 0
            while (i < sub) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < sub) { sums(best)(i) += p(i); i += 1 }
          counts(best) += 1
        }
        cents = (0 until k).map(c =>
          if (counts(c) > 0) sums(c).map(_ / counts(c)) else cents(c)).toArray
        it += 1
      }
      cents.map(_.toSeq).toSeq
    }
  }

  /** A13: semantic decontamination — flag corpus vectors whose
    * embedding is near-identical to ANY benchmark vector (the
    * embedding-space complement of X10's n-gram decontamination:
    * catches paraphrased leakage that verbatim n-grams miss; the
    * bench set is the lowest `nBench` vec_ids, X10's doc_id<20
    * convention). The bench side broadcasts (eval suites are tiny);
    * the corpus scans ONCE; the per-vector argmax is max(struct(sim,
    * -bench_id)) — partial-aggregable map-side, deterministic ties to
    * the smallest bench id — so the only shuffle carries one row per
    * corpus vector. O(n·|bench|), never n².
    */
  def embDecontaminate(spark: SparkSession, dir: String, nBench: Int = 20,
                       threshold: Double = 0.4): DataFrame = {
    val e = corpus(spark, dir)
    val bench = broadcast(
      Tables.load(spark, dir, "embeddings").filter(col("vec_id") < nBench)
        .select(col("vec_id").as("bench_id"), col("embedding").as("bench_emb")))
    e.filter(col("vec_id") >= nBench)
      .crossJoin(bench)
      .select(col("vec_id"),
        round(VectorFunctions.cosine(col("embedding"), col("bench_emb")), 4).as("sim"),
        col("bench_id"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("bench_id")).as("nid"))).as("m"))
      .select(col("vec_id"),
        col("m.sim").as("max_sim"),
        (-col("m.nid")).as("bench_id"),
        (col("m.sim") >= threshold).as("contaminated"))
      .orderBy("vec_id")
  }

  /** A14: k-center greedy coreset (farthest-point sampling, the
    * classic 2-approximation) — pick `k` maximally-diverse exemplar
    * vectors, the diversity-sampling step that keeps a downsampled
    * training corpus covering the embedding space instead of
    * oversampling its dense clusters.
    *
    * Round r: one NARROW projection updates each vector's
    * distance-to-nearest-chosen incrementally against ONLY the newest
    * center (min(prev, d_new) — centers never re-scan), then one 1-row
    * argmax aggregate (max of (dist, -vec_id)) picks the farthest
    * vector. The corpus never shuffles; per-round driver traffic is
    * one row; state is (vec_id, embedding, min_dist) behind a
    * localCheckpoint (the k-means/BPE loop pattern). Distances are
    * micro-rounded BEFORE the argmax, so the chosen set is exact long
    * arithmetic — deterministic at any parallelism. Iterative (k
    * driver rounds) → not SQL-expressible → rows-only; Round8Spec
    * replays the greedy selection on collected vectors and pins
    * exactness.
    *
    * Output: (rank, center_id, radius_micro) — radius_micro of rank r
    * is the coverage radius AFTER r−1 centers, i.e. the distance that
    * made this center the farthest point; it is non-increasing.
    */
  def embCoreset(spark: SparkSession, dir: String, k: Int = 8): DataFrame = Rounds(spark) { rs =>
    import spark.implicits._
    val e = corpus(spark, dir).select(col("vec_id"), col("embedding"))
    def distTo(center: Seq[Float]): Column =
      round((lit(1.0) - VectorFunctions.cosine(col("embedding"), typedlit(center))) * 1e6)
        .cast("long")
    // seed: the lowest vec_id (deterministic, mirroring kmeans/PQ seeds)
    val seedRow = e.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("embedding")).head
    var chosen = List((1, seedRow.getLong(0), 0L))
    val seed = seedRow.getAs[scala.collection.Seq[Float]]("embedding").toSeq
    rs.loop(rs.checkpoint(e.withColumn("min_dist", distTo(seed))), k - 1) { state =>
      // the embedding rides the argmax struct (third field — never
      // reached by the (min_dist, -vec_id) total order), so the
      // center lookup needs no second job per round
      val far = state
        .agg(max(struct(col("min_dist"), (-col("vec_id")).as("nid"),
          col("embedding").as("emb"))).as("m"))
        .select(col("m.min_dist"), (-col("m.nid")).as("vec_id"), col("m.emb")).head
      chosen ::= ((chosen.size + 1, far.getLong(1), far.getLong(0)))
      val center = far.getAs[scala.collection.Seq[Float]](2).toSeq
      state.withColumn("min_dist", least(col("min_dist"), distTo(center)))
    }
    chosen.reverse.toDF("rank", "center_id", "radius_micro").orderBy("rank")
  }

  /** A23: kNN label-vote evaluation — "can the embedding space
    * classify its own labels": for an eval sample, predict each
    * vector's label by majority vote of its k exact nearest
    * neighbors (leave-one-out) and score against the generator
    * label. This is the standard intrinsic embedding-quality probe
    * (kNN accuracy) run before trusting a space for retrieval — the
    * eval-family sibling of X32's confusion matrix, and the
    * diagnostic that quantifies what `emb_kmeans`' purity hints at.
    *
    * Plan: A1's exact ranking (mergeable top-k — ≤ k rows per
    * (query, partition) cross the shuffle) over the `nEval` sample,
    * labels joined back by key, vote = `max(struct(cnt, −label))`
    * (most votes, ties to the smaller label). Integer counts, 4-dp
    * sims, full tie-breaks → hash-exact oracle.
    */
  def knnLabelEval(spark: SparkSession, dir: String,
                   k: Int = 5, nEval: Int = 50): DataFrame = {
    val e = corpus(spark, dir)
    val labels = Tables.load(spark, dir, "embeddings").select("vec_id", "label")
    val q = broadcast(e.filter(col("vec_id") < nEval)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")))
    val topk = udaf(graft.functions.Aggregators.TopKByScore(k))
    val nn = e.join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"),
        round(VectorFunctions.cosine(col("q_emb"), col("embedding")), 4).as("sim"),
        col("vec_id"))
      .groupBy("q_id").agg(topk(col("sim"), col("vec_id")).as("nn"))
      .select(col("q_id"), explode(col("nn")).as("p"))
      .select(col("q_id"), col("p._2").as("vec_id"))
    val votes = nn.join(labels, "vec_id")
      .groupBy("q_id", "label").agg(count(lit(1)).as("cnt"))
      .groupBy("q_id")
      .agg(max(struct(col("cnt"), (-col("label")).cast("long").as("nl"))).as("m"))
      .select(col("q_id"), (-col("m.nl")).cast("int").as("pred_label"))
    votes
      .join(labels.select(col("vec_id").as("q_id"), col("label").as("true_label")), "q_id")
      .groupBy("true_label")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("true_label"), col("n_eval"), col("n_correct"),
        expr("(1000000 * n_correct) div n_eval").as("acc_micro"))
      .orderBy("true_label")
  }

  /** A24: two-stage retrieval cascade — the production architecture
    * A20 exists to enable: a cheap binary HAMMING prefilter scans the
    * packed sign bits (⌈dim/32⌉ longs/row — 1/128 the float
    * bandwidth) and keeps `prefilter` candidates per query; the
    * exact float cosine then reranks only those. At 100 TB the
    * float vectors for stage 2 are fetched BY KEY for
    * prefilter·queries rows — the full-precision corpus is never
    * scanned, which is the entire economics of compressed-first
    * retrieval (FAISS binary-prefilter / two-tier serving).
    *
    * Both stages rank through the mergeable top-k (≤ candidates per
    * (query, partition) cross each shuffle). The prefilter is an
    * approximation (sign bits estimate angle) → rows-only driver
    * check; the spec measures end-to-end recall vs [[bruteForceTopK]]
    * and pins a floor.
    */
  def cascadeAnn(spark: SparkSession, dir: String,
                 k: Int = 5, nQueries: Int = 10, prefilter: Int = 100): DataFrame = {
    val e = corpus(spark, dir)
    val words = (embeddingDim(spark, dir) + 31) / 32
    def enc(c: Column): Column = transform(sequence(lit(0), lit(words - 1)),
      w => aggregate(slice(c, w * lit(32) + 1, lit(32)), lit(0L),
        (acc, x) => acc * 2 + when(x > lit(0.0f), 1L).otherwise(0L)))
    val coded = e.select(col("vec_id"), enc(col("embedding")).as("code"))
      .localCheckpoint()
    val q = broadcast(e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        enc(col("embedding")).as("qcode")))
    val pre = udaf(graft.functions.Aggregators.TopKByScore(prefilter))
    val shortlist = coded
      .join(q.select(col("q_id"), col("qcode")), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (-aggregate(
          zip_with(col("code"), col("qcode"), (x, y) => bit_count(x.bitwiseXOR(y))),
          lit(0), (a, b) => a + b)).cast("double").as("s"))
      .groupBy("q_id").agg(pre(col("s"), col("vec_id")).as("nn"))
      .select(col("q_id"), explode(col("nn")).as("p"))
      .select(col("q_id"), col("p._2").as("vec_id"))
    rankTopKQueries(
      shortlist
        .join(e, Seq("vec_id"))
        .join(q.select(col("q_id"), col("q_emb")), Seq("q_id"))
        .select(col("q_id"),
          round(VectorFunctions.cosine(col("q_emb"), col("embedding")), 4).as("sim"),
          col("vec_id")),
      k)
  }

  /** A22: embedding-space drift monitor — X21's corpus-drift idea in
    * vector space: split the corpus into two snapshots (even/odd
    * vec_id here; production passes yesterday/today), and per label
    * compare the snapshot CENTROIDS by cosine. A re-embedded corpus,
    * a model upgrade, or an upstream filter change all show up as
    * per-class centroid rotation long before downstream metrics move
    * — this is the embedding-pipeline regression test run on every
    * refresh.
    *
    * Exactness: each component quantizes to micro-longs BEFORE
    * summation (sums are exact, merge-order-free — the X15 contract;
    * a float-summing aggregator would be ulp-order-dependent), and
    * the cosine runs on the summed integer vectors directly — cosine
    * is scale-invariant, so centroids never need the division. Dot
    * products of dim-summed micro values overflow int64 → terms cast
    * decimal(38,0) (HUGEINT in DuckDB), one double conversion at the
    * end on bit-equal integers.
    *
    * Scale shape: one dim-exploded map-side-combinable sum (at real
    * dims a quantized VectorSum Aggregator replaces the explode),
    * then label-sized joins. DuckDB-oracled.
    */
  def embDrift(spark: SparkSession, dir: String): DataFrame =
    embDriftOf(Tables.load(spark, dir, "embeddings")
      .withColumn("snapshot", (col("vec_id") % 2 === 0).cast("int")))

  /** [[embDrift]]'s core over ANY (label, snapshot ∈ {0,1},
    * embedding) frame — split out so the planted-rotation spec can
    * feed hand snapshots.
    */
  private[graft] def embDriftOf(df: DataFrame): DataFrame = {
    val sums = df
      .select(col("label"), col("snapshot"), posexplode(col("embedding")))
      .groupBy("label", "snapshot", "pos")
      .agg(sum(round(col("col") * 1e6).cast("long")).as("s"))
    val counts = df.groupBy("label", "snapshot").agg(count(lit(1)).as("n"))
    val a = sums.filter(col("snapshot") === 0).select(col("label"), col("pos"), col("s").as("sa"))
    val b = sums.filter(col("snapshot") === 1).select(col("label"), col("pos"), col("s").as("sb"))
    val dots = a.join(b, Seq("label", "pos"))
      .groupBy("label")
      .agg(
        sum((col("sa").cast("decimal(38,0)") * col("sb"))).as("dot"),
        sum((col("sa").cast("decimal(38,0)") * col("sa"))).as("na"),
        sum((col("sb").cast("decimal(38,0)") * col("sb"))).as("nb"))
    val na = counts.filter(col("snapshot") === 0).select(col("label"), col("n").as("n_a"))
    val nb = counts.filter(col("snapshot") === 1).select(col("label"), col("n").as("n_b"))
    dots.join(na, "label").join(nb, "label")
      .select(col("label"), col("n_a"), col("n_b"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))) * 1e6)
          .cast("long").as("centroid_cos_micro"))
      .orderBy("label")
  }

  /** A21: LSH tuning-curve sweep — the sizing study run BEFORE
    * committing a 100 TB corpus to an index configuration (A17's
    * evaluation pattern applied to A2): for each table count, the
    * measured recall of [[lshAnn]] against the exact [[bruteForceTopK]]
    * ranking, computed entirely in-plan (one join of the approximate
    * and exact top-k sets per setting, counted — no driver-side
    * comparisons). Recall rises with tables while candidate cost
    * rises linearly: the curve is the evidence for choosing a point
    * on that trade-off, which is otherwise folklore. Probabilistic
    * content (LSH buckets) → rows-only driver check; the spec pins
    * monotonicity and the top setting's recall floor, and records
    * every point in RECALL.
    */
  /** A26: IVF nprobe tuning-curve sweep — A21's emit-the-decision-as-
    * data pattern applied to the SECOND index family: measured recall
    * vs `nprobe` (the probed-cell count), the one dial every IVF
    * deployment must size before committing a corpus. On a weakly
    * clustered corpus recall tracks probed MASS (A3's documented
    * behavior), so the curve is near-linear in nprobe; on a clustered
    * corpus it saturates early — which regime you are in IS the
    * measurement, and it decides whether IVF buys anything over the
    * cascade. Probabilistic (trained centroids) → rows-only; the
    * sweep's monotonicity + top-point floor are spec-pinned, every
    * point lands in RECALL.
    */
  def ivfSweep(spark: SparkSession, dir: String,
               k: Int = 5, nQueries: Int = 10,
               nCells: Int = 10, probeCounts: Seq[Int] = Seq(2, 4, 6, 8)): DataFrame = {
    val exact = bruteForceTopK(spark, dir, k, nQueries)
      .select(col("q_id"), col("vec_id"))
    val denom = k.toLong * nQueries
    // ONE index for the whole sweep: k-means training is deterministic
    // (hash-seeded D² + exact-integer Lloyd), so every point trained
    // the SAME centroids — train once, vary only the probe count
    val e = corpus(spark, dir)
    val cents = kmeansCentroids(e, nCells, iters = 3)
    val curves = probeCounts.map { np =>
      ivfAnnWith(e, cents, k, nQueries, nprobe = np)
        .select(col("q_id"), col("vec_id"))
        .join(exact, Seq("q_id", "vec_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(np).as("nprobe"), col("n_hits"),
          lit(denom).as("n_exact"),
          expr(s"(1000000L * n_hits) div ${denom}L").as("recall_micro"))
    }
    curves.reduce(_ unionByName _).orderBy("nprobe")
  }

  def lshSweep(spark: SparkSession, dir: String,
               k: Int = 5, nQueries: Int = 10,
               tableCounts: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    val exact = bruteForceTopK(spark, dir, k, nQueries)
      .select(col("q_id"), col("vec_id"))
    val denom = k.toLong * nQueries
    val curves = tableCounts.map { nT =>
      lshAnn(spark, dir, k, nQueries, nTables = nT)
        .select(col("q_id"), col("vec_id"))
        .join(exact, Seq("q_id", "vec_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(nT).as("n_tables"), col("n_hits"),
          lit(denom).as("n_exact"),
          expr(s"(1000000L * n_hits) div ${denom}L").as("recall_micro"))
    }
    curves.reduce(_ unionByName _).orderBy("n_tables")
  }

  /** A20: binary-signature (Hamming) retrieval — sign-bit
    * binarization packs each vector into ⌈dim/32⌉ integer words (1
    * bit per dimension: 32× less than SQ8's byte, 128× less than
    * float32), and neighbor search becomes XOR + popcount over words
    * — the cheapest first-pass retrieval rung production vector
    * stores ship (FAISS binary indexes / Hamming-packed sign hashes),
    * usually feeding an exact float rerank (compose with A1's tail).
    * The sign-random-projection theory is A2's: Hamming distance over
    * sign bits estimates angle, here with the identity projection
    * because the corpus dimensions are already decorrelated.
    *
    * Fully deterministic (integer codes, integer distances,
    * (hamming asc, vec_id) total order) — unlike every other
    * compressed-ANN rung this one is DuckDB-ORACLED, not spec-bound:
    * both engines fold the same sign bits with the same `acc·2 + b`
    * arithmetic (32-bit words so checked BIGINT math never
    * overflows) and popcount the same XOR.
    *
    * Scale shape: the encode happens once in the scan projection
    * (what a 100 TB store persists); the scan moves ⌈dim/32⌉ longs
    * per row against the broadcast query codes, and the mergeable
    * top-k keeps ≤ k rows per (query, partition) — A1's plan at 1/128
    * the bandwidth.
    */
  def hammingAnn(spark: SparkSession, dir: String,
                 k: Int = 5, nQueries: Int = 10): DataFrame = {
    val e = corpus(spark, dir)
    val words = (embeddingDim(spark, dir) + 31) / 32
    def enc(c: Column): Column = transform(sequence(lit(0), lit(words - 1)),
      w => aggregate(slice(c, w * lit(32) + 1, lit(32)), lit(0L),
        (acc, x) => acc * 2 + when(x > lit(0.0f), 1L).otherwise(0L)))
    val coded = e.select(col("vec_id"), enc(col("embedding")).as("code"))
    val q = broadcast(coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("code").as("qcode")))
    val cand = coded.join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        aggregate(
          zip_with(col("code"), col("qcode"), (x, y) => bit_count(x.bitwiseXOR(y))),
          lit(0), (a, b) => a + b).as("hamming"))
    val topk = udaf(graft.functions.Aggregators.TopKByScore(k))
    cand
      .groupBy("q_id")
      .agg(topk((-col("hamming")).cast("double"), col("vec_id")).as("nn"))
      .select(col("q_id"), posexplode(col("nn")).as(Seq("pos", "e")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rnk"),
        col("e._2").as("vec_id"), (-col("e._1")).cast("long").as("hamming"))
      .orderBy("q_id", "rnk")
  }

  /** A19: MMR diverse top-k re-ranking (Carbonell & Goldstein 1998) —
    * the post-retrieval stage between ANN and the consumer: a raw
    * cosine top-k returns k near-copies of the best answer; maximal
    * marginal relevance re-ranks the shortlist by
    * `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)`, trading relevance
    * against redundancy with what is already selected. RAG context
    * assembly, dedup-aware retrieval eval, and diverse negative
    * mining all run exactly this loop.
    *
    * Scale/plan shape: the corpus-sized work is the SHORTLIST (exact
    * cosine top-`shortlist` via the mergeable top-k — A1's plan); the
    * greedy stage then runs DRIVER-SIDE over the collected shortlist
    * (≤ `shortlist` rows by construction — the bounded-collect posture
    * of [[kmeansPlusPlusSeeds]]/[[trainCodebooks]]): each of the k
    * rounds is an incremental max-sim-to-selected update plus an
    * argmax over ≤ 64 rows, which as distributed rounds cost 3 driver
    * jobs each (1-row aggregate, row lookup, checkpoint — ~27 jobs of
    * pure dispatch for 640 rows of state; measured 11.9 s of the
    * extended bench at the r14 box's 145 ms/job). Relevance and
    * scores are exact integer micro (λ as a percent, truncating
    * integral division), identical arithmetic to the spec's pinned
    * greedy replay (Round13Spec) and to the previous distributed
    * rounds; not SQL-expressible (k data-dependent rounds) →
    * rows-only driver check.
    */
  def embMmr(spark: SparkSession, dir: String, k: Int = 10,
             shortlist: Int = 64, lambdaPct: Int = 70): DataFrame = {
    import spark.implicits._
    val e = corpus(spark, dir)
    val qRow = e.orderBy("vec_id").limit(1).head
    val (qId, qEmb) = (qRow.getLong(0),
      qRow.getAs[scala.collection.Seq[Float]]("embedding").toSeq)
    def simTo(v: Seq[Float]): Column =
      round(VectorFunctions.cosine(col("embedding"), typedlit(v)) * 1e6).cast("long")
    val topk = udaf(graft.functions.Aggregators.TopKByScore(shortlist))
    // ONE distributed pass: exact-cosine shortlist, embeddings
    // rehydrated by key, ≤ `shortlist` rows collected
    val cand = e.join(
        e.filter(col("vec_id") =!= qId)
          .select(lit(1).as("g"), simTo(qEmb).cast("double").as("s"), col("vec_id"))
          .groupBy("g").agg(topk(col("s"), col("vec_id")).as("nn"))
          .select(explode(col("nn")).as("p"))
          .select(col("p._2").as("vec_id"), col("p._1").cast("long").as("rel_micro")),
        Seq("vec_id"))
      .select(col("vec_id"), col("rel_micro"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[scala.collection.Seq[Float]](2).toArray))
    // the native CosineSimilarity's exact accumulation order
    // (left-to-right float-to-double), micro-rounded — the arithmetic
    // Round13Spec's replay pins
    def simMicro(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val cos = if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      math.round(cos * 1e6)
    }
    var remaining = cand.map { case (id, rel, v) => id -> ((rel, v)) }.toMap
    // round 1 is pure relevance; λ only matters once S is non-empty.
    // Ties break to the SMALLEST id (the distributed form's
    // max(struct(score, -vec_id)) order).
    val firstId = remaining.toSeq.maxBy { case (id, (s, _)) => (s, -id) }._1
    var sel = List((1, firstId, remaining(firstId)._1, remaining(firstId)._1))
    var maxSel = (remaining - firstId).map { case (id, (_, v)) =>
      id -> simMicro(v, remaining(firstId)._2) }
    var chosenVec = remaining(firstId)._2
    remaining -= firstId
    for (r <- 2 to k) {
      val best = remaining.toSeq.maxBy { case (id, (s, _)) =>
        ((lambdaPct * s - (100 - lambdaPct) * maxSel(id)) / 100, -id) }._1
      val score = (lambdaPct * remaining(best)._1 -
        (100 - lambdaPct) * maxSel(best)) / 100
      sel ::= ((r, best, remaining(best)._1, score))
      chosenVec = remaining(best)._2
      remaining -= best; maxSel -= best
      maxSel = maxSel.map { case (id, m) =>
        id -> math.max(m, simMicro(remaining(id)._2, chosenVec)) }
    }
    sel.reverse.toDF("rank", "vec_id", "rel_micro", "score_micro")
      .orderBy("rank")
  }

  /** Deterministic k-means++ (D²) seeding for the spherical Lloyd
    * loops ([[embKmeans]], [[kmeansCentroids]]) — replaces the round-5
    * first-k-by-vec_id rule, which degrades to k near-identical seeds
    * on sorted/clustered real data.
    *
    * Hash-seeded and exactly replayable (no RNG state): seed 1 is the
    * vector minimizing (xxhash64(vec_id), vec_id); seed j is drawn
    * with probability ∝ D² via the exponential-clocks trick — key_i =
    * −ln(u_ij)/D_i², u_ij = xxhash64(vec_id, j) mapped to (0, 1), and
    * the argmin(key, vec_id) row wins. D_i is the micro-rounded
    * cosine distance to the nearest already-chosen seed, maintained
    * INCREMENTALLY against only the newest seed (the coreset's
    * `least(min_dist, distTo(new))` machinery — centers never
    * re-scan). Per-row arithmetic only, so the draw is deterministic
    * at any partitioning; vectors never leave executors except the k
    * chosen rows. k−1 narrow rounds, localCheckpoint-truncated.
    */
  /** The operator-side micro cosine distance, `round((1 − cos)·1e6)`,
    * with [[org.apache.spark.sql.graft.CosineSimilarity]]'s exact
    * float-widening left-to-right accumulation — seeding on the driver
    * must produce the same longs the distributed form did.
    */
  private def distMicro(a: Array[Float], b: Array[Float]): Long = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val cos = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    math.round((1.0 - cos) * 1e6)
  }

  /** Deterministic k-means++ (D² sampling) seeds over a BOUNDED
    * hash-ordered sample — the [[trainCodebooks]] posture: seeding
    * needs a representative draw, not the corpus. The previous
    * distributed form paid, PER SEED, a full-corpus aggregate, a
    * row-lookup job and a corpus-wide checkpoint (k−1 sequential
    * rounds — it alone doubled embKmeans's bench time); this runs the
    * identical arithmetic in plain Scala over the lowest-`xxhash64`
    * `sampleN` vectors, one narrow TakeOrdered pass total.
    *
    * Draw-for-draw identical rules: seed 1 minimizes (xxhash64(vec_id),
    * vec_id) — the hash-min row is in every hash-ordered sample
    * prefix, so it equals the old full-corpus pick; seed j minimizes
    * the exponential race key −ln(u)/D² with u derived from Spark's
    * own xxhash64(vec_id, j) (fetched WITH the sample, so the draw
    * function stays the published one) and D the micro cosine distance
    * to the nearest chosen seed, incrementally maintained. At any
    * corpus ≤ sampleN the sample IS the corpus and seeds are
    * bit-identical to the distributed form (the spec corpora all are);
    * beyond that D² sees the sample only — the standard bounded-
    * training trade every production k-means++ makes. Round9Spec
    * replays the selection independently.
    */
  private[operators] def kmeansPlusPlusSeeds(e: DataFrame, k: Int,
                                             sampleN: Int = 4096): Seq[Seq[Double]] = {
    val cols = Seq(col("vec_id"), col("embedding"), xxhash64(col("vec_id")).as("h1")) ++
      (2 to k).map(j => xxhash64(col("vec_id"), lit(j)).as(s"h$j"))
    val rows = e.select(cols: _*)
      .orderBy(col("h1"), col("vec_id")).limit(sampleN).collect()
    require(rows.nonEmpty, "k-means++ seeding: empty corpus")
    val ids = rows.map(_.getLong(0))
    val vecs = rows.map(_.getAs[scala.collection.Seq[Float]](1).toArray)
    // hashes(i)(j-2) = xxhash64(vec_id_i, j) for draw j in 2..k
    val drawHash = rows.map(r => (2 to k).map(j => r.getLong(j + 1)).toArray)
    var chosen = List(vecs(0))
    val dmin = vecs.map(v => distMicro(v, vecs(0)))
    for (j <- 2 to k) {
      var best = -1; var bestKey = Double.MaxValue; var bestId = Long.MaxValue
      var i = 0
      while (i < vecs.length) {
        val d = dmin(i)
        val key =
          if (d == 0L) Double.MaxValue
          else {
            val u = math.max(drawHash(i)(j - 2).toDouble / math.pow(2, 64) + 0.5, 1e-12)
            -math.log(u) / (d.toDouble * d.toDouble)
          }
        if (key < bestKey || (key == bestKey && ids(i) < bestId)) {
          best = i; bestKey = key; bestId = ids(i)
        }
        i += 1
      }
      val cvec = vecs(best)
      chosen ::= cvec
      var p = 0
      while (p < vecs.length) {
        dmin(p) = math.min(dmin(p), distMicro(vecs(p), cvec)); p += 1
      }
    }
    chosen.reverse.map(_.toSeq.map(_.toDouble))
  }

  /** A15: spherical k-means (Lloyd's) — the corpus-clustering step
    * behind topic bucketing, per-cluster mixture weighting, and
    * cluster-local dedup at training-data scale.
    *
    * Scale shape, per iteration: assignment is the shuffle-free native
    * [[org.apache.spark.sql.graft.NearestCentroids]] (the k×dim matrix
    * rides into the scan as a literal — the degenerate broadcast), and
    * the recompute is ONE partial-aggregated shuffle of (cluster, dim)
    * long sums — k·dim rows reach the driver, never vectors. Corpus
    * bytes cross no exchange at any scale; iteration cost is linear
    * scans × `iters`.
    *
    * Determinism at any parallelism: per-component contributions are
    * micro-rounded to longs BEFORE the sum (exact integer arithmetic,
    * any partitioning/order), centroids are rebuilt from those exact
    * sums with one fixed division order, and assignment ties keep the
    * lowest centroid index. An empty cluster keeps its previous
    * centroid (k never collapses). Exactness vs a driver replay and
    * partitioning-invariance are pinned in Round9Spec; cluster purity
    * vs the generator labels lands in RECALL via RecallLog.
    *
    * Seeds come from the deterministic k-means++ draw
    * ([[kmeansPlusPlusSeeds]]) — hash-seeded D² sampling, exactly
    * replayable by the oracle, robust to sorted/clustered vec_ids.
    */
  def embKmeans(spark: SparkSession, dir: String, k: Int = 8, iters: Int = 5,
                repartitionTo: Option[Int] = None): DataFrame = {
    val base = corpus(spark, dir).select(col("vec_id"), col("label"), col("embedding"))
    // materialize once: every Lloyd round + the final assignment re-read
    // this set (iters+2 passes), so truncating at the scan is the same
    // localCheckpoint pattern as the BPE/GD/coreset loops
    val e = repartitionTo.map(base.repartition(_)).getOrElse(base).localCheckpoint()
    var cent: Seq[Seq[Double]] = kmeansPlusPlusSeeds(e, k)
    def assign(c: Seq[Seq[Double]]): Column =
      element_at(VectorFunctions.nearestCentroids(col("embedding"), c, 1), 1)
    for (_ <- 0 until iters) {
      val sums = e
        .select(assign(cent).as("cluster"),
          posexplode(transform(col("embedding"),
            x => round(x.cast("double") * 1e6).cast("long"))).as(Seq("dim", "sm")))
        .groupBy("cluster", "dim")
        .agg(sum("sm").as("s"), count(lit(1)).as("n"))
        .collect()
      val byCluster = sums.groupBy(_.getInt(0))
      cent = cent.indices.map { c =>
        byCluster.get(c) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1))
              .map(r => r.getLong(2).toDouble / r.getLong(3) / 1e6).toSeq
          case None => cent(c)
        }
      }
    }
    e.select(col("vec_id"), col("label"), assign(cent).as("cluster"))
      .orderBy("vec_id")
  }

  /** A4: embedding hygiene — per-vector L2 norm and dimensionality,
    * the validation pass run before any similarity work (zero vectors
    * and dim drift silently poison cosine scores). Fixed left-to-right
    * summation order inside `aggregate` keeps the double norm
    * bit-identical to the oracle's list fold.
    */
  def embNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(
        col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        round(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 4).as("l2_norm"))
      .orderBy("vec_id")

  /** A5: int8 embedding quantization — the 4× storage/bandwidth cut
    * every large vector store applies before ANN. Symmetric absmax
    * scaling: scale = 127/max|x|, qᵢ = round(xᵢ·scale) (|q| ≤ 127 by
    * construction, no clamp needed). Output surfaces the quantized
    * checksum (exact integer — a strong lossless-transform oracle) and
    * the max reconstruction error. All arithmetic is double with
    * order-independent reductions (max, integer-valued sum), so the
    * oracle matches bit-for-bit before the final rounding.
    */
  def embQuantize(spark: SparkSession, dir: String): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val absmax = array_max(transform(v, x => abs(x)))
    val scale = lit(127.0) / absmax
    val q = transform(v, x => round(x * scale))
    val err = array_max(transform(v, x => abs(x - round(x * scale) / scale)))
    Tables.load(spark, dir, "embeddings")
      .select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        round(scale, 4).as("scale_r"),
        aggregate(q, lit(0.0), (acc, x) => acc + x).cast("long").as("q_sum"),
        round(err, 6).as("max_err"))
      .orderBy("vec_id")
  }

  /** A8: random-projection dimensionality reduction (Johnson-
    * Lindenstrauss): project d-dim embeddings to k dims with a
    * deterministic Rademacher (±1) matrix — the standard cheap
    * pre-step before clustering/ANN when d is large (×d/k less
    * vector bandwidth downstream, pairwise distances preserved within
    * JL distortion, E‖y‖² = ‖x‖² exactly for ±1/√k entries).
    *
    * The matrix never exists as data: sign(j,i) derives from integer
    * arithmetic on (j·d+i) inside the projection lambda, so the
    * operator is a pure narrow map — zero shuffle, zero broadcast,
    * nothing to ship to 1000 executors. The oracle replays the same
    * arithmetic in SQL. Unbiasedness is spec-asserted (Round5Spec);
    * at 100 TB this runs at scan throughput like A4/A5.
    */
  def embRproj(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    // sign(j,i) = 1 − 2·bit13((j·d+i) · 2654435761): Knuth-hash parity,
    // identical integer semantics in the native expression and the SQL
    // oracle. One compiled k·d multiply-add loop per row
    // ([[org.apache.spark.sql.graft.RademacherProject]]) — the HOF
    // Column form (aggregate over zip_with) is interpreted and was
    // ~20× slower at bench scale.
    val y = ColumnShim.column(
      org.apache.spark.sql.graft.RademacherProject(
        ColumnShim.expression(col("embedding")), k))
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), y.as("y"))
      .select(
        col("vec_id"),
        lit(k).as("out_dim"),
        round(element_at(col("y"), 1) * 1e6).cast("long").as("y1_micro"),
        round(sqrt(aggregate(col("y"), lit(0.0), (a, v) => a + v * v)) * 1e6)
          .cast("long").as("norm_micro"))
      .orderBy("vec_id")
  }

  /** A10: distributed PCA — the data-DEPENDENT complement of A8's
    * data-independent JL projection (SemDeDup-style pipelines whiten /
    * reduce embeddings exactly this way). Three-phase split, each at
    * its natural scale:
    *   1. ONE corpus aggregate ([[graft.functions.Aggregators.GramMatrix]])
    *      reduces n vectors to (n, Σx, ΣxxT) — a dim·(dim+3)/2-double
    *      mergeable buffer per partition; vectors never shuffle.
    *   2. The driver builds C = G/n − μμᵀ (dim×dim) and eigensolves it
    *      with cyclic Jacobi ([[graft.functions.LinAlg.symEig]]) —
    *      microseconds, no native-library dependency, deterministic
    *      sign-pinned components.
    *   3. The top-k components fold into ONE compiled affine map
    *      ([[org.apache.spark.sql.graft.MatrixProject]], centering
    *      folded into the offset) — a narrow scan-speed projection,
    *      nothing but the k×dim matrix shipped.
    * Eigensolve output depends on double summation order (partition
    * ulps) → no cross-engine oracle; invariants (orthonormality,
    * variance ordering, captured-variance fraction, projection parity)
    * are spec-pinned in Round6Spec.
    */
  /** The distributed pass + driver eigensolve shared by A10/A11:
    * returns (mean, eigenvalues desc, eigenvectors-as-rows, total
    * variance) of the embeddings' covariance.
    */
  private def pcaModel(spark: SparkSession, dir: String)
      : (Array[Double], Array[Double], Array[Array[Double]], Double) = {
    val gram = udaf(graft.functions.Aggregators.GramMatrix)
    val row = Tables.load(spark, dir, "embeddings")
      .agg(gram(col("embedding")).as("g"))
      .select(col("g._1").as("sums"), col("g._2").as("tri"), col("g._3").as("n"))
      .collect().head
    val sums = row.getSeq[Double](0).toArray
    val tri = row.getSeq[Double](1).toArray
    val n = row.getLong(2).toDouble
    val d = sums.length
    val mu = sums.map(_ / n)
    val cov = Array.ofDim[Double](d, d)
    var t = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = tri(t) / n - mu(i) * mu(j)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; t += 1
      }
      i += 1
    }
    val (values, vectors) = graft.functions.LinAlg.symEig(cov)
    (mu, values, vectors, (0 until d).map(i => cov(i)(i)).sum)
  }

  def embPca(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val (mu, values, vectors, totalVar) = pcaModel(spark, dir)
    val comps = vectors.take(k).map(_.toSeq).toSeq
    val offs = comps.map(c => c.zip(mu).map { case (a, b) => a * b }.sum)
    val y = ColumnShim.column(
      org.apache.spark.sql.graft.MatrixProject(
        ColumnShim.expression(col("embedding")), comps, offs))
    val capturedVar = values.take(k).sum
    // element_at under ANSI mode (Spark 4 default) throws on an index
    // past the array end, so pc1/pc2 must be guarded on how many
    // components actually exist (dim can be < 2); an all-constant
    // corpus has totalVar 0 — its variance fraction is undefined, not
    // a division by zero.
    def pc(i: Int): Column =
      if (comps.length >= i) round(element_at(col("y"), i), 4)
      else lit(null).cast("double")
    val varFraction =
      if (totalVar > 0) round(lit(capturedVar / totalVar), 4)
      else lit(null).cast("double")
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), y.as("y"))
      .select(
        col("vec_id"),
        // comps, not k: when the embedding dim d < k only d components
        // exist (embWhiten reports the same way)
        lit(comps.length).as("out_dim"),
        varFraction.as("var_fraction"),
        pc(1).as("pc1"),
        pc(2).as("pc2"),
        round(sqrt(aggregate(col("y"), lit(0.0), (a, v) => a + v * v)), 4)
          .as("norm"))
      .orderBy("vec_id")
  }

  /** A11: PCA whitening — A10's projection with each component scaled
    * by 1/√λ, so the output distribution has IDENTITY covariance (unit
    * variance per component, zero cross-correlation). SemDeDup-style
    * pipelines whiten before cosine thresholds so no direction
    * dominates the similarity. Same three-phase plan as A10 — the
    * scaling folds into the SAME single compiled affine map (scale
    * rows of M and the offset; no extra pass). Components with λ ≤ ε
    * are dropped (whitening a zero-variance direction divides by
    * zero). The identity-covariance property is the spec — a sharper
    * invariant than anything an oracle could check.
    */
  def embWhiten(spark: SparkSession, dir: String, k: Int = 8,
                eps: Double = 1e-12): DataFrame = {
    val (mu, values, vectors, _) = pcaModel(spark, dir)
    val kept = values.zip(vectors).take(k).filter(_._1 > eps)
    val comps = kept.map { case (lam, v) =>
      val s = 1.0 / math.sqrt(lam)
      v.map(_ * s).toSeq
    }.toSeq
    val offs = comps.map(c => c.zip(mu).map { case (a, b) => a * b }.sum)
    val y = ColumnShim.column(
      org.apache.spark.sql.graft.MatrixProject(
        ColumnShim.expression(col("embedding")), comps, offs))
    Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), y.as("w"))
      .select(
        col("vec_id"),
        lit(comps.length).as("out_dim"),
        round(element_at(col("w"), 1), 4).as("w1"),
        round(sqrt(aggregate(col("w"), lit(0.0), (a, v) => a + v * v)), 4)
          .as("norm"))
      .orderBy("vec_id")
  }

  /** A7: per-label centroid (mean embedding) via the mergeable
    * [[graft.functions.Aggregators.VectorSum]] state — the shuffle
    * carries one double[dim] per (label, partition), not vectors, so
    * the same plan computes class centroids over billions of rows.
    * Output is unpivoted to (label, dim, mean_micro) rows AFTER the
    * aggregate (the explode touches |labels|·dim rows, not the corpus).
    */
  def embCentroid(spark: SparkSession, dir: String): DataFrame = {
    val vsum = udaf(graft.functions.Aggregators.VectorSum)
    Tables.load(spark, dir, "embeddings")
      .groupBy("label")
      .agg(vsum(col("embedding")).as("acc"))
      .select(col("label"), col("acc._2").as("n_vecs"),
        posexplode(col("acc._1")).as(Seq("dim", "s")))
      .select(col("label"), col("dim").cast("int").as("dim"), col("n_vecs"),
        round(col("s") / col("n_vecs") * 1e6).cast("long").as("mean_micro"))
      .orderBy("label", "dim")
  }

  /** Nearest-cell assignment as a NARROW projection: the centroid
    * matrix folds into the plan as a reference object inside the native
    * [[org.apache.spark.sql.graft.NearestCentroids]] argmax, so the
    * `cell` column is born in the scan stage — zero shuffled bytes,
    * any corpus size. (The previous `crossJoin(centroids) +
    * row_number() over (partition by vec_id)` shape shuffled corpus×k
    * rows per pass.) Cell id = position in `centroids`.
    */
  private[graft] def assignCells(e: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
    e.withColumn("cell",
      element_at(VectorFunctions.nearestCentroids(col("embedding"), centroids, 1), 1))

  /** Lloyd-iterated centroids. Per iteration: one narrow assignment
    * pass ([[assignCells]]) and ONE mergeable-aggregate shuffle — the
    * [[graft.functions.Aggregators.VectorSum]] buffer carries one
    * double[dim] per (cell, partition), so the corpus never re-shuffles
    * and only the k×dim centroid matrix crosses the driver boundary.
    * Cells that lose all members drop out (k shrinks), as in classic
    * Lloyd; ids stay positional in the returned sequence.
    */
  private[operators] def kmeansCentroids(e: DataFrame, k: Int, iters: Int): Seq[Seq[Double]] = {
    val spark = e.sparkSession
    import spark.implicits._
    var centroids: Seq[Seq[Double]] = kmeansPlusPlusSeeds(e, k)
    val vsum = udaf(graft.functions.Aggregators.VectorSum)
    for (_ <- 0 until iters) {
      centroids = assignCells(e, centroids)
        .groupBy("cell")
        .agg(vsum(col("embedding")).as("acc"))
        .select(col("cell"), col("acc._1").as("sums"), col("acc._2").as("n"))
        .as[(Int, Seq[Double], Long)]
        .collect().toSeq.sortBy(_._1)
        .map { case (_, sums, n) => sums.map(_ / n) }
    }
    centroids
  }

  /** A3: IVF-style ANN — assign corpus to nearest centroid cell (a
    * narrow projection, see [[assignCells]]), probe the `nprobe` cells
    * nearest to each query, exact-rerank inside probed cells. The
    * corpus fraction scanned per query is ~nprobe/k cells, and nothing
    * in the index-build or assignment path shuffles the corpus.
    *
    * `nprobe` is the recall/scan dial, and its right value depends on
    * how clustered the corpus is: the synthetic testdata is nearly
    * unclustered (same-label mean cosine ≈ 0.02), so with honestly
    * balanced k-means++ cells recall tracks the probed mass and the
    * default probes 6/10 cells for ≥ 0.9 recall. (The round-5 default
    * of 2 looked fine only because first-k-by-vec_id seeding produced
    * one degenerate mega-cell — high recall by scanning most of the
    * corpus through a single probe.) On a genuinely clustered corpus,
    * neighbors concentrate in the query's cell and nprobe ≈ 1–2 of
    * many cells is the operating point.
    */
  def ivfAnn(spark: SparkSession, dir: String,
             k: Int = 5, nQueries: Int = 10,
             nCells: Int = 10, nprobe: Int = 6, iters: Int = 3): DataFrame = {
    val e = corpus(spark, dir)
    ivfAnnWith(e, kmeansCentroids(e, nCells, iters), k, nQueries, nprobe)
  }

  /** [[ivfAnn]]'s search stage over ALREADY-TRAINED centroids — split
    * out so [[ivfSweep]] trains the (identical, deterministic) index
    * ONCE and varies only `nprobe` across its points. Before the
    * split every sweep point re-ran the full k-means++ seeding +
    * Lloyd training eagerly (4 × ~6 driver jobs of pure repetition —
    * the sweep was 10.4 s on the r14 box, dominated by re-training
    * the same index 4 times).
    */
  private def ivfAnnWith(e: DataFrame, cents: Seq[Seq[Double]],
                         k: Int, nQueries: Int, nprobe: Int): DataFrame = {
    val assigned = assignCells(e, cents).select("vec_id", "embedding", "cell")
    val probes = querySet(e, nQueries)
      .select(col("q_id"), col("q_emb"),
        explode(VectorFunctions.nearestCentroids(col("q_emb"), cents, nprobe)).as("cell"))
    rankTopKQueries(
      assigned.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"),
          round(VectorFunctions.cosine(col("q_emb"), col("embedding")), 4).as("sim"),
          col("vec_id")),
      k)
  }
}
