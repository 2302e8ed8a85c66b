package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.Natives

/** Similarity search over the `embeddings` table (SURVEY.md §2.6).
  *
  * Two paths, as a real 100 TB pipeline would ship them:
  *   - `bruteForceTopK`: exact cosine top-k for a bounded query set —
  *     broadcast the queries, stream the corpus once, per-partition top-k via
  *     window rank. Cost O(|corpus| · |queries|) with NO corpus shuffle until
  *     the (tiny) rank step.
  *   - `lshTopK`: sign-random-projection LSH (SimHash for vectors) — corpus
  *     and queries are bucketed by b-bit hypercube cell; candidates come only
  *     from colliding cells across `tables` independent hash tables, then are
  *     exactly re-ranked. Recall < 1 by construction; the candidate volume —
  *     not the corpus size — bounds the pair work.
  */
object SimSearch {

  /** Exact cosine top-k neighbors for each query vector (vec_id < nQueries,
    * self-match excluded). Output: (query_id, neighbor_id, rank). */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val queries = embeddings.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // Spread the CORPUS side before the per-row cosine work: the embeddings
    // table is one parquet file, so an un-spread scan hands the whole
    // |corpus| × |queries| scoring stage to a single task (the same
    // single-split serialization minhashLsh hit before its r12 pre-spread).
    // The queries side stays on the raw scan so vec_id < nQueries pushes
    // down to the file.
    val scored = Spread.toCores(embeddings)
      .select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      // quantized to 6 decimals BEFORE ranking: ties then break on
      // neighbor_id identically in any engine, making top-k deterministic
      // cross-engine (raw doubles could rank-swap on ~1e-16 noise)
      .select(col("query_id"), col("neighbor_id"),
        round(Natives.cosineSim(col("q_emb"), col("embedding")), 6).as("cos"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("int"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Deterministic ±1 hyperplane signs for SRP table `table` — ONE source of
    * truth backing both the engine's bucket expression and the generated
    * oracle SQL (SparkEntry embeds these arrays as literals in the DuckDB
    * query, so the full LSH path is hash-verified cross-engine). */
  private[graft] def srpSigns(table: Int, bits: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(table * 7919 + 17)
    Array.fill(bits, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Sign-random-projection bucket for one hash table: `bits` pseudo-random
    * hyperplanes; bit i = sign of dot(v, h_i) with h_i a ±1 vector. The
    * hyperplanes are deterministic per (table, plane) and precomputed
    * DRIVER-side into array literals — the per-row work is one multiply-add
    * per dimension, with zero runtime hash calls (the previous
    * hash-per-element formulation cost dim × bits × tables xxhash64
    * evaluations per row). Elements are widened to double before the multiply
    * and folded sequentially left-to-right — the exact op sequence the oracle
    * runs, so the projection (hence the bucket) is bit-identical
    * cross-engine. */
  private def srpBucket(emb: org.apache.spark.sql.Column, table: Int, bits: Int,
      dim: Int): org.apache.spark.sql.Column = {
    val bitCols = srpSigns(table, bits, dim).zipWithIndex.map { case (signs, i) =>
      val proj = aggregate(
        zip_with(emb, typedlit(signs), (x, s) => x.cast("double") * s),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bitCols.reduce(_ bitwiseOR _)
  }

  /** IVF (inverted-file) ANN top-k — the coarse-quantizer scale path the
    * LSH variant complements. Cells are seeded with `nCells` deterministic
    * corpus vectors (a k-means refinement would drop in here in production);
    * every vector is assigned to its nearest centroid PER ROW — the nCells
    * centroids are collected driver-side (bounded, like the LSH hyperplanes;
    * in production the quantizer codebook is driver-held anyway) and inlined
    * as literals, so assignment is a zero-shuffle map: no crossJoin row
    * expansion, no argmax aggregation, the corpus vectors never move.
    * Queries probe their `nProbe` nearest cells, and only those cells'
    * members are exactly re-ranked. Candidate volume ≈
    * corpus × nProbe / nCells per query, independent of corpus size. */
  def ivfTopK(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    // nProbe = 0 (or nCells = 0) silently probed nothing and returned an
    // empty result — a parameter misuse, not a defined degenerate
    require(nCells >= 1, s"ivfTopK: nCells must be >= 1, got $nCells")
    require(nProbe >= 1, s"ivfTopK: nProbe must be >= 1, got $nProbe")
    val centroids = embeddings.where(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"), col("embedding").as("c_emb"))
    val assigned = ivfAssign(embeddings, nCells)
    val queryProbes = embeddings.where(col("vec_id") < nQueries)
      .crossJoin(broadcast(centroids))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("cell"),
        round(Natives.cosineSim(col("embedding"), col("c_emb")), 6).as("c_cos"))
      .withColumn("cr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("c_cos").desc, col("cell"))))
      .where(col("cr") <= nProbe)
      .select("query_id", "q_emb", "cell")
    assigned
      // broadcast the (nQueries × nProbe)-row probe set: an SMJ here would
      // shuffle the whole assigned corpus on cell
      .join(broadcast(queryProbes), "cell")
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(Natives.cosineSim(col("q_emb"), col("embedding")), 6).as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("int"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Nearest-centroid assignment as a zero-shuffle, zero-join per-row
    * argmax: the nCells centroid vectors are collected driver-side (bounded
    * by the parameter, exactly like the LSH hyperplanes) and inlined as
    * literals; `greatest()` over (cosine, -cell, cell) structs picks the
    * max-cosine cell with ties to the smaller cell id. The corpus vectors
    * never cross an exchange — the previous crossJoin(broadcast)+groupBy
    * formulation shuffled the full corpus (×nCells expanded) to compute
    * this same per-row value. */
  private[graft] def ivfAssign(embeddings: DataFrame, nCells: Int): DataFrame = {
    val codebook: Array[(Int, Array[Float])] = embeddings
      .where(col("vec_id") < nCells)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
    if (codebook.isEmpty) {
      // an EMPTY corpus has an empty (well-defined) assignment; seeds
      // missing from a NON-empty corpus is still a parameter misuse
      require(embeddings.isEmpty,
        s"no centroid seeds with vec_id < $nCells in a non-empty corpus")
      return embeddings.select(col("vec_id"), col("embedding"),
        lit(-1).as("cell"))
    }
    // greatest() requires ≥ 2 children
    val bestCell = if (codebook.length == 1) lit(codebook.head._1)
    else greatest(codebook.toIndexedSeq.map { case (cellId, cEmb) =>
      struct(round(Natives.cosineSim(col("embedding"), typedlit(cEmb)), 6).as("c"),
        lit(-cellId).as("neg"), lit(cellId).as("id"))
    }: _*).getField("id")
    // spread before the per-row argmax: nCells inlined cosines per row on a
    // single-split scan would otherwise run on one core (codebook collect
    // above stays on the raw scan — its vec_id filter pushes to the file)
    Spread.toCores(embeddings)
      .select(col("vec_id"), col("embedding"), bestCell.as("cell"))
  }

  /** LSH ANN top-k: candidates from `tables` independent b-bit SRP bucketings,
    * exact cosine re-rank of the union. Same output shape as bruteForceTopK;
    * recall measured against it in tests.
    *
    * Default 4 bits × 8 tables: per-bit collision prob for angle θ is
    * 1 - θ/π, so for the ~0.4-cosine neighbors in the synthetic corpus
    * (θ≈66°, p≈0.63) a table matches with p^4 ≈ 0.16 and 8 tables give
    * ≈ 75% recall. More bits ⇒ smaller buckets ⇒ fewer candidates but lower
    * recall — tune bits up when the corpus has strong near-dup structure. */
  def lshTopK(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10,
      bits: Int = 4, tables: Int = 8, dim: Int = 64): DataFrame = {
    // bits > 63 would alias through shiftleft's mod-64 shift (bucket bit i
    // and bit i-64 collide SILENTLY); bits = 0 used to die in an obscure
    // empty.reduce; tables = 0 silently returned an empty result
    require(bits >= 1 && bits <= 63, s"lshTopK: bits must be in [1, 63], got $bits")
    require(tables >= 1, s"lshTopK: tables must be >= 1, got $tables")
    require(dim >= 1, s"lshTopK: dim must be >= 1, got $dim")
    // a row shorter than `dim` null-pads the projection (every bit falls to
    // 0 — the corpus collapses into one bucket and candidate volume explodes
    // at scale); a longer row silently ignores its suffix. Both are
    // parameter/data mismatches that must surface, not degrade recall.
    // assert_true is codegen'd and returns NULL on success, so the filter
    // keeps every valid row at one branch per row. Spread first: the
    // ×tables explode, the b·dim·tables-multiply SRP bucketing, and the
    // per-candidate exact re-rank below all inherit the scan's splits, and
    // the single-file embeddings table is ONE split — isolated 64×→128×
    // re-times showed this stage serializing on one core (2.48×/octave)
    // until the corpus was spread. (The queries branch re-filters
    // vec_id < nQueries below the spread; that predicate still pushes
    // through the round-robin exchange to the file scan.)
    val checked = Spread.toCores(embeddings).where(assert_true(
      size(col("embedding")) === dim,
      concat(lit("lshTopK: embedding length "), size(col("embedding")),
        lit(s" != dim=$dim"))).isNull)
    val bucketed = checked.select(
      col("vec_id"), col("embedding"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"), srpBucket(col("embedding"), t, bits, dim).as("bucket"))): _*))
        .as("h"))
      .select(col("vec_id"), col("embedding"),
        col("h.tbl").as("tbl"), col("h.bucket").as("bucket"))
    val queries = bucketed.where(col("vec_id") < nQueries)
      .select(col("tbl"), col("bucket"),
        col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val candidates = bucketed
      .join(broadcast(queries), Seq("tbl", "bucket"))
      .where(col("vec_id") =!= col("query_id"))
      // rounded to 6 before ranking, as in bruteForceTopK: ties then break
      // on neighbor_id identically in any engine
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(Natives.cosineSim(col("q_emb"), col("embedding")), 6).as("cos"))
      .groupBy("query_id", "neighbor_id")
      .agg(max("cos").as("cos"))
    candidates
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("int"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank")
  }

  /** Symmetric per-vector int8 quantization of `emb` (double elements):
    * scale = max|x|/127, q_i = floor(x_i/scale + 0.5) — half-up, the
    * rounding both engines reproduce exactly. Zero vectors quantize to
    * zeros. */
  private def quantize8(emb: Column): Column = {
    val scale = array_max(transform(emb, x => abs(x))) / 127d
    when(scale === 0d, transform(emb, _ => lit(0L)))
      .otherwise(transform(emb, x => floor(x / scale + 0.5d).cast("long")))
  }

  /** Int8-quantized cosine vs the exact cosine over a deterministic pair
    * set (adjacent vec_ids) — the memory-bandwidth lever for ANN at scale:
    * int8 vectors are 4× smaller than float32, and the scales cancel out of
    * the cosine entirely (q·q' / (‖q‖‖q'‖)), so the quantized score is pure
    * integer-derived arithmetic any engine reproduces bit-for-bit. Emitting
    * both scores makes the oracle verify the quantization path itself AND
    * exposes the quantization error for threshold tuning. */
  def quantizedCosineAdjacent(embeddings: DataFrame): DataFrame = {
    val asDouble = transform(col("embedding"), x => x.cast("double"))
    // spread before the interpreted-HOF quantization (single-split scan)
    val base = Spread.toCores(embeddings).select(col("vec_id"), col("embedding"),
      quantize8(asDouble).as("q"))
    val a = base.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
      col("q").as("q_a"))
    val b = base.select((col("vec_id") - 1).as("vec_a"),
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"), col("q").as("q_b"))
    def idot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, r) => p * r), lit(0L), (acc, v) => acc + v)
    a.join(b, "vec_a")
      .select(col("vec_a"), col("vec_b"),
        round(Natives.cosineSim(col("emb_a"), col("emb_b")), 6)
          .as("cos_exact"),
        {
          val denom = sqrt(idot(col("q_a"), col("q_a")).cast("double")) *
            sqrt(idot(col("q_b"), col("q_b")).cast("double"))
          // zero-vector guard mirrors cosine_sim's 0.0-not-NaN contract
          round(when(denom === 0d, lit(0d))
            .otherwise(idot(col("q_a"), col("q_b")).cast("double") / denom), 6)
            .as("cos_q8")
        })
      .orderBy("vec_a")
  }

  /** Product-quantization (PQ) ANN top-k — the memory-compressed scale path
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011): split each vector into `m` subspaces, encode each
    * subspace as the id of its nearest codebook centroid (here the
    * `nCentroids` lowest-vec_id corpus vectors' subvectors — a k-means
    * refinement drops in exactly like IVF's), and answer queries with the
    * asymmetric distance computation: ADC(q, x) = Σ_s d(q_s, C_s[code_s(x)]).
    * A 64-dim float vector becomes m=8 bytes — 32× compression — and query
    * scoring is m table lookups per corpus vector.
    *
    * Scale shape: the codebook (m × nCentroids subvectors) and the per-query
    * distance tables (nQueries × m × nCentroids ints) are driver-computed
    * and INLINED — encoding and scoring are zero-shuffle per-row maps; the
    * only exchange is the final top-k rank (auto-rewritten to the
    * partial/final heap operator). Everything runs on the round(x·100)
    * integer grid, so ADC values are exact int64 and the DuckDB oracle
    * replays the whole path bit-for-bit. */
  def pqTopK(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10,
      m: Int = 8, nCentroids: Int = 16): DataFrame = {
    // m = 0 used to die in an obscure `dim % 0`; nCentroids = 0 silently
    // returned empty on a NON-empty corpus (the ivfAssign contract is:
    // empty in → empty out, missing seeds otherwise → loud)
    require(m >= 1, s"pqTopK: m must be >= 1, got $m")
    require(nCentroids >= 1, s"pqTopK: nCentroids must be >= 1, got $nCentroids")
    val q = embeddings.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 100).cast("long")).as("qv"))
    val seeds = q.where(col("vec_id") < nCentroids)
      .orderBy("vec_id").collect()
      .map(r => r.getSeq[Long](1).toArray)
    if (seeds.isEmpty) { // empty-corpus guard (same contract as kmeans/semDedup)
      require(q.isEmpty,
        s"pqTopK: no codebook seeds with vec_id < $nCentroids in a non-empty corpus")
      return q.select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), lit(0L).as("adc"),
        lit(0).as("rank")).limit(0)
    }
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    // codebook(s)(c): centroid c's subvector for subspace s
    val codebook: Array[Array[Array[Long]]] =
      Array.tabulate(m, seeds.length)((s, c) =>
        seeds(c).slice(s * subDim, (s + 1) * subDim))
    val queries = q.where(col("vec_id") < nQueries)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    // per-query ADC lookup tables: qd(query)(s)(c), driver-side ints
    val qd: Map[Long, Array[Array[Long]]] = queries.map { case (qid, qv) =>
      qid -> Array.tabulate(m, seeds.length)((s, c) =>
        sq(qv.slice(s * subDim, (s + 1) * subDim), codebook(s)(c)))
    }.toMap
    // encode: ONE fused native expression (graft.plans.PqEncode) computes
    // all m argmin codes per row — the composed aggregate(zip_with(slice))
    // form built m × nCentroids interpreted HOF trees per row and its
    // codegen/planning cost alone dominated the query
    val flatCodebook: Seq[Seq[Long]] =
      (0 until m).flatMap(s => codebook(s).map(_.toSeq))
    // spread the RAW scan, then quantize + encode ABOVE the exchange:
    // Spread.toCores(q) puts the interpreted transform() quantization
    // below the repartition, where it collapses into the single-split
    // scan task and serializes (the corpus side of this stage measured
    // 0.93 max-task/stage-time at a 128x replica — the r15 disease one
    // projection deeper). The seed/query collects above keep their
    // pushed-down vec_id filters on the raw scan.
    val encoded = Spread.toCores(embeddings).select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 100).cast("long")).as("qv"))
      .select(col("vec_id"),
        Natives.pqCodes(col("qv"), subDim, seeds.length, flatCodebook).as("codes"))
    // ONE corpus scan for all queries: the query dimension is an exploded
    // literal (per-query union branches would rescan the corpus nQueries
    // times), and ADC scoring is the fused native expression
    // (graft.plans.PqAdc) — the previous 3-level element_at literal-lookup
    // tree re-materialized the full distance-table literal per subspace and
    // its planning/codegen cost alone was ~3 s per run
    val tables = queries.toSeq.map { case (qid, _) => qd(qid).toSeq.map(_.toSeq) }
    val adc = Natives.pqAdc(col("codes"), col("q_idx").cast("int"), tables)
    encoded
      .select(col("vec_id"), col("codes"),
        posexplode(typedlit(queries.map(_._1).toSeq)).as(Seq("q_idx", "query_id")))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adc.as("adc"))
      // nulls LAST under asc, matching DuckDB's default: an unexpected NULL
      // score must never claim rank 1 (belt to PqEncode's ragged-row braces)
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("adc").asc_nulls_last, col("neighbor_id"))).cast("int"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "adc", "rank")
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ composed ANN — the two-level architecture embedding search
    * actually ships at scale (Jégou et al., TPAMI 2011 §V, "IVFADC"): an
    * inverted-file coarse quantizer routes each query to its `nProbe`
    * nearest cells, and only those cells' members are scored — by PQ
    * asymmetric distance over m-byte codes, never the raw vectors. The
    * touched corpus fraction (≈ nProbe/nCells) AND the per-candidate cost
    * (m table lookups) are both corpus-size-independent; driver/plan state
    * is codebooks and probe/ADC tables, all parameter-bounded. Coarse
    * assignment reuses the fused `pq_codes` expression degenerately (one
    * full-dim subspace over the cell codebook), so routing and encoding are
    * zero-shuffle per-row maps. Integer round(x·100) grid throughout — the
    * oracle replays every distance exactly. */
  def ivfPqTopK(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10,
      nCells: Int = 8, nProbe: Int = 3, m: Int = 8,
      nCentroids: Int = 16): DataFrame = {
    // same parameter discipline as ivfTopK/pqTopK: zero cells/probes/
    // subspaces/centroids is misuse, not a defined degenerate
    require(nCells >= 1, s"ivfPqTopK: nCells must be >= 1, got $nCells")
    require(nProbe >= 1, s"ivfPqTopK: nProbe must be >= 1, got $nProbe")
    require(m >= 1, s"ivfPqTopK: m must be >= 1, got $m")
    require(nCentroids >= 1, s"ivfPqTopK: nCentroids must be >= 1, got $nCentroids")
    val q = embeddings.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 100).cast("long")).as("qv"))
    val cellSeeds = q.where(col("vec_id") < nCells).orderBy("vec_id")
      .collect().map(_.getSeq[Long](1).toArray)
    val pqSeeds = q.where(col("vec_id") < nCentroids).orderBy("vec_id")
      .collect().map(_.getSeq[Long](1).toArray)
    if (cellSeeds.isEmpty || pqSeeds.isEmpty) {
      require(q.isEmpty, // empty-corpus guard; missing seeds otherwise → loud
        s"ivfPqTopK: no seeds with vec_id < min($nCells, $nCentroids) " +
          "in a non-empty corpus")
      return q.select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), lit(0L).as("adc"),
        lit(0).as("rank")).limit(0)
    }
    val dim = cellSeeds.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val subDim = dim / m
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    // coarse route: pq_codes with ONE dim-wide subspace = nearest cell id.
    // Spread the RAW scan and quantize ABOVE the exchange: Spread
    // .toCores(q) would leave the interpreted transform() quantization
    // below the repartition, collapsed into the single-split scan task —
    // at a 128x replica that stage measured 0.93 max-task/stage-time and
    // dominated the query's wall (parallelism 2.5 on 32 cores).
    val assigned = Spread.toCores(embeddings).select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 100).cast("long")).as("qv"))
      .withColumn("cell",
        element_at(Natives.pqCodes(col("qv"), dim, cellSeeds.length,
          cellSeeds.toSeq.map(_.toSeq)), 1))
    val codebook: Array[Array[Array[Long]]] =
      Array.tabulate(m, pqSeeds.length)((s, c) =>
        pqSeeds(c).slice(s * subDim, (s + 1) * subDim))
    val flatCodebook: Seq[Seq[Long]] =
      (0 until m).flatMap(s => codebook(s).map(_.toSeq))
    val encoded = assigned.withColumn("codes",
      Natives.pqCodes(col("qv"), subDim, pqSeeds.length, flatCodebook))
    val queries = q.where(col("vec_id") < nQueries).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    // per-query probe list: nProbe nearest cells by exact integer L2,
    // ties to the smaller cell — the same order the assignment uses
    val probeCells: Seq[Seq[Int]] = queries.toSeq.map { case (_, qv) =>
      cellSeeds.indices.map(c => (sq(qv, cellSeeds(c)), c))
        .sorted.take(nProbe).map(_._2)
    }
    val tables = queries.toSeq.map { case (_, qv) =>
      (0 until m).map(s => pqSeeds.indices.map(c =>
        sq(qv.slice(s * subDim, (s + 1) * subDim), codebook(s)(c))))
    }
    val adc = Natives.pqAdc(col("codes"), col("q_idx").cast("int"), tables)
    encoded
      .select(col("vec_id"), col("cell"), col("codes"),
        posexplode(typedlit(queries.map(_._1).toSeq))
          .as(Seq("q_idx", "query_id")))
      .where(col("vec_id") =!= col("query_id")
        && array_contains(
          element_at(typedlit(probeCells), col("q_idx").cast("int") + 1),
          col("cell")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adc.as("adc"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("adc").asc_nulls_last, col("neighbor_id"))).cast("int"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "adc", "rank")
      .orderBy("query_id", "rank")
  }

  /** Recall census — the first number an ANN user asks of an index: per
    * (method, query), how many of the exact top-k survive in the
    * approximate top-k. IVF and IVF-PQ run at their default parameters
    * (their codebooks derive from the data); the LSH leg runs at the
    * caller-supplied `dim` (its hyperplane codebook is dim-shaped), against
    * [[bruteForceTopK]] as ground truth. Hits are integer counts (hits/k
    * is the recall when a consumer wants the ratio). The per-method
    * milli-recall and a floor verdict ride every row, so a recall
    * regression fails the DRIVER gate, not just a spec: the floors
    * (LSH/IVF 400‰, IVF-PQ 200‰ — the levels the specs have asserted
    * since round 3) are part of the oracled output. Those floors were
    * calibrated on the 64-dim synthetic corpus; on another `dim`,
    * `meets_floor` still reports against the same published levels — treat
    * it as uncalibrated advisory there, not a tuned guarantee.
    *
    * Scale shape: each variant already bounds its own candidate volume;
    * the census adds only semi-joins against the (nQueries × k)-row truth
    * set and a window over 3 × nQueries rows. */
  def recallCensus(embeddings: DataFrame, nQueries: Int = 5,
      k: Int = 10, dim: Int = 64): DataFrame = {
    // nQueries·k is the recall denominator: zero would make recall_milli a
    // silent NULL (non-ANSI `div` by zero), and meets_floor NULL with it
    require(nQueries >= 1, s"recallCensus: nQueries must be >= 1, got $nQueries")
    require(k >= 1, s"recallCensus: k must be >= 1, got $k")
    // `brute` is referenced four times below (three semi-joins + the
    // universe); all four references share one canonical subplan, and AQE's
    // runtime stage cache materializes it once — an interleaved A/B showed
    // an explicit localCheckpoint here is wall-neutral at sf0.1 (median
    // 3.94 s vs 4.25 s, inside noise), so the plan stays lazy
    val brute = bruteForceTopK(embeddings, nQueries, k)
      .select("query_id", "neighbor_id")
    val variants: Seq[(String, DataFrame)] = Seq(
      // dim is plumbed through to the LSH leg: its hyperplane codebook is
      // dim-shaped, and lshTopK's strict embedding-length assert would
      // otherwise make the census throw on any non-64-dim corpus with no
      // way to configure it (ivf/ivfpq derive their codebooks from the
      // data and need no dim)
      "lsh" -> lshTopK(embeddings, nQueries, k, dim = dim),
      "ivf" -> ivfTopK(embeddings, nQueries, k),
      "ivfpq" -> ivfPqTopK(embeddings, nQueries, k))
    val floorMilli = Map("lsh" -> 400, "ivf" -> 400, "ivfpq" -> 200)
    val hits = variants.map { case (m, df) =>
      df.select(col("query_id"), col("neighbor_id"))
        .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
        .select(lit(m).as("method"), col("query_id"), col("n_hits"))
    }.reduce(_ unionAll _)
    // universe keeps zero-hit queries visible (an LSH query whose buckets
    // all miss must report 0, not vanish)
    val universe = brute.select("query_id").distinct()
      .withColumn("method",
        explode(array(variants.map(v => lit(v._1)): _*)))
    val floor = variants.map(v => (v._1, lit(floorMilli(v._1)))).toMap
      .foldLeft(lit(0)) { case (acc, (m, f)) =>
        when(col("method") === m, f).otherwise(acc) }
    val w = Window.partitionBy("method")
    universe.join(hits, Seq("method", "query_id"), "left")
      .select(col("method"), col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("hits_total", sum(col("n_hits")).over(w))
      .withColumn("recall_milli",
        expr(s"hits_total * 1000 div ${nQueries.toLong * k}"))
      .select(col("method"), col("query_id"), col("n_hits"),
        lit(k).as("k"), col("recall_milli"),
        (col("recall_milli") >= floor).as("meets_floor"))
      .orderBy("method", "query_id")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of two
    * retrieval rankings over the same corpus — the standard hybrid-retrieval
    * combiner (e.g. lexical + dense legs of a RAG stack). The two legs here
    * are genuinely different orderings of the same vectors: exact cosine
    * (angle) and exact squared-Euclidean (magnitude-sensitive), which
    * disagree precisely when vector norms differ.
    *
    * RRF score = Σ_legs 1/(C + rank), computed in integer nano-units
    * (`1e9 div (C + rank)`) so the fusion is exact cross-engine; a candidate
    * absent from a leg's top-k contributes 0 from that leg, the standard
    * top-k-list formulation. Both legs share one corpus scan and one
    * query-key partitioning: two window ranks over the same exchange, then
    * a candidate-sized (≤ 2k per query) aggregate — corpus size never enters
    * the fusion stage. */
  def rrfFusion(embeddings: DataFrame, nQueries: Int = 5, k: Int = 10,
      c: Int = 60): DataFrame = {
    // a negative C makes C + rank hit zero at rank = -C: the nano-score
    // turns silently NULL (non-ANSI `div` by zero) and that leg vanishes
    // from the fusion; C >= 0 keeps every denominator >= 1
    require(c >= 0, s"rrfFusion: c must be >= 0, got $c")
    val queries = embeddings.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // corpus side spread before the per-row cosine + L2 scoring (the
    // bruteForceTopK single-split rationale; queries keep the pushed scan)
    val scored = Spread.toCores(embeddings)
      .select(col("vec_id").as("neighbor_id"), col("embedding"))
      .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      // round-6 quantization before ranking: the brute-force discipline —
      // ties then break on neighbor_id identically in any engine
      .select(col("query_id"), col("neighbor_id"),
        round(Natives.cosineSim(col("q_emb"), col("embedding")), 6).as("cos"),
        round(aggregate(
          zip_with(col("q_emb"), col("embedding"),
            (x, y) => (x.cast("double") - y.cast("double")) *
              (x.cast("double") - y.cast("double"))),
          lit(0.0), (acc, v) => acc + v), 6).as("l2sq"))
    val byQuery = Window.partitionBy("query_id")
    val ranked = scored
      .withColumn("rank_cos", row_number().over(
        byQuery.orderBy(col("cos").desc, col("neighbor_id"))).cast("int"))
      .withColumn("rank_l2", row_number().over(
        byQuery.orderBy(col("l2sq").asc, col("neighbor_id"))).cast("int"))
      .where(col("rank_cos") <= k || col("rank_l2") <= k)
    ranked
      .withColumn("rrf_nano",
        expr(s"CASE WHEN rank_cos <= $k THEN 1000000000 div ($c + rank_cos) ELSE 0 END + " +
          s"CASE WHEN rank_l2 <= $k THEN 1000000000 div ($c + rank_l2) ELSE 0 END"))
      .withColumn("fused_rank", row_number().over(
        byQuery.orderBy(col("rrf_nano").desc, col("neighbor_id"))).cast("int"))
      .where(col("fused_rank") <= k)
      .select("query_id", "neighbor_id", "rrf_nano", "fused_rank")
      .orderBy("query_id", "fused_rank")
  }
}
