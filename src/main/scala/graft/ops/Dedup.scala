package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.plans.Natives

/** Deduplication family (SURVEY.md §2.6 / BASELINE north star): exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every near-dup variant is bucket-first — candidate pairs are
  * generated ONLY inside LSH/band buckets (`groupBy` + self-equi-join on the
  * bucket key), never by an O(n²) cross join, so the shuffle volume is
  * O(n · bands) and the pair work is confined to colliding buckets. The
  * signatures themselves are pure per-row column expressions (no shuffle).
  */
object Dedup {

  /** All unordered pairs (a < b in natural order) from each bucket's element
    * list — the in-bucket pair generator all bucket-first near-dup variants
    * share. Two chained explodes stream the pairs: per-row memory stays O(B)
    * (the bucket list itself); the earlier flatten-transform formulation
    * materialized the full B(B-1)/2 pair array per bucket row — ~520k
    * structs in ONE value at MaxBucket, and O(B²) slice copies building it
    * (measured 2.3 s → 0.9 s on the simhash query at sf0.1). Evaluated on
    * the bucket list so the upstream signature computation runs ONCE (a
    * self-join formulation recomputes the signature plan on both sides —
    * measured 3× the work). */
  private[ops] def bucketPairs(bucketed: DataFrame, idsCol: String,
      dedupeContent: Boolean = false): DataFrame = {
    val lists0 = bucketed.select(col(idsCol).as("_ids"))
    // Identical member lists in different buckets emit identical pair sets.
    // A near-dup CLUSTER collides in EVERY band with the same member list,
    // so each band re-emits the cluster's full B(B-1)/2 pairs — with 32
    // single-slot bands that's 32× the explode volume for rows the final
    // `distinct` throws away anyway. Canonicalize (sort) + distinct the
    // lists first for consumers that dedupe pairs afterwards; pair-COUNTING
    // consumers (sharedGramPairs, winnowedPairs: n_shared = buckets shared)
    // must keep every bucket and pass false. Set-identical output either
    // way, so no oracle change.
    val lists =
      if (dedupeContent)
        lists0.select(array_sort(col("_ids")).as("_ids")).distinct()
      else lists0
    lists
      .select(col("_ids"), explode(col("_ids")).as("a"))
      .select(col("a"), explode(filter(col("_ids"), x => x > col("a"))).as("b"))
  }

  /** Exact dedup: canonical representative (min doc_id) per distinct text.
    * Equivalent to `dropDuplicates("text")` but with a deterministic survivor,
    * which both the oracle and a 100 TB re-run can reproduce. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(col("text"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select("keep_doc_id", "n_copies")
      .orderBy("keep_doc_id")

  /** MinHash + LSH near-dup candidate pairs.
    *
    * Pipeline: tokens → `shingleSize`-word shingles → `k`-slot MinHash
    * signature (per-row) → `bands` band-hashes → explode to (band, hash)
    * buckets → self-join within buckets → distinct (a,b) pairs with exact
    * n-gram Jaccard computed only for the candidates.
    *
    * With k=32, bands=8 (r=4), the S-curve threshold is ≈ (1/8)^(1/4) ≈ 0.6.
    */
  /** Skew guard shared by the bucket-first variants: a degenerate bucket of
    * b members expands to b(b-1)/2 pairs inside ONE row's expression — at
    * corpus scale a boilerplate-text bucket (thousands of identical docs)
    * would blow the row budget. Buckets above the cap are dropped; exact
    * duplicates that caused them are what [[exact]] already catches, and the
    * cap-sized sample of near-dup structure survives in the other bands. */
  val MaxBucket = 1024

  /** (doc_id, band_idx, band_hash) rows — the LSH bucketing key stream
    * shared by [[minhashLsh]] and [[capCensus]]. */
  private def minhashBandRows(toksDf: DataFrame, shingleSize: Int, k: Int,
      bands: Int): DataFrame = {
    // r = 0 would hash every band to the constant 0 (one corpus-wide
    // bucket per band, silently dropped by MaxBucket); a non-dividing
    // `bands` would silently ignore the trailing signature slots — both
    // change the S-curve the caller asked for, so fail loudly
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands ($bands) must divide the signature size k ($k)")
    val r = k / bands
    toksDf
      // fused native expression (graft.plans.MinHashSignature): one loop
      // from token array to k-slot signature, no intermediate arrays
      .withColumn("sig",
        Natives.minhashSig(col("toks"), shingleSize, k))
      .select(col("doc_id"),
        posexplode(minhash_bands(col("sig"), bands, r, k))
          .as(Seq("band_idx", "band_hash")))
  }

  def minhashLsh(documents: DataFrame, shingleSize: Int = 3, k: Int = 32,
      bands: Int = 8): DataFrame = {
    // the token projection feeds THREE consumers joining on different keys
    // (band rows, verify side a, verify side b) — no exchange reuse applies,
    // so without a shared materialization `tokens(text)` would re-tokenize
    // the corpus 3× per run (the r04 bench regression). EAGER materialize
    // (round 22), not a lazy persist: the three consumers are CONCURRENT
    // root stages of the one action, and a lazy cache fills per-partition
    // as tasks finish — stages racing ahead of the fill recompute the
    // tokenize (probe-measured on the sibling prefixFilterPairs: three
    // ~20-taskSec copies of the same stage). One eager job fills the
    // blocks BEFORE the fan-out; consumers only ever read.
    // null text tokenizes to NULL: without the filter all null-text docs
    // collide in one (band_idx, NULL) bucket and reach the output as
    // garbage pairs with NULL n_common/n_union — every sibling variant
    // drops them naturally (explode of NULL emits no rows).
    // tokenize + the k-slot signature are CPU-bound per-row work: spread an
    // under-split scan across the cores first (the gramRows discipline;
    // no-op on a real many-split scan) — without it the whole fingerprint
    // stage runs on however few splits one parquet file yields, and its
    // wall-clock scales serially with corpus size instead of with cores
    val toksDf = Spread.toCores(documents)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(col("toks").isNotNull)
      .transform(Materialize.once)
    // shingles/signature each materialized ONCE per row (withColumn), then
    // only (doc_id, band) pairs — not token arrays — enter the shuffle
    val bandRows = minhashBandRows(toksDf, shingleSize, k, bands)
    // bucket-then-pair instead of self-join: one pass over the signatures,
    // one shuffle; pairs colliding in several bands dedupe via distinct
    // BEFORE the (expensive) exact-jaccard verify
    val buckets = bandRows
      .groupBy("band_idx", "band_hash")
      .agg(collect_list("doc_id").as("ids"))
      .where(size(col("ids")).between(2, MaxBucket))
    val cand = bucketPairs(buckets, "ids", dedupeContent = true)
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
      .distinct()
    cand
      .join(toksDf.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), "doc_a")
      .join(toksDf.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
      // integer intersect/union counts, not the float ratio: exact in every
      // engine (the jaccard value is n_common/n_union when a consumer wants
      // it), which keeps the oracle compare free of float-rounding edges
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("toks_a"), col("toks_b"))).as("n_common"),
        size(array_union(col("toks_a"), col("toks_b"))).as("n_union"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup: 64-bit per-doc fingerprint; candidate pairs share at
    * least one of 4 16-bit chunks (pigeonhole: hamming ≤ 3 guarantees a
    * matching chunk), verified with the true hamming distance. */
  /** (doc_id, fp, chunk_idx, chunk) rows — the pigeonhole bucketing key
    * stream shared by [[simhashNearDup]] and [[capCensus]]. */
  private def simhashChunkRows(documents: DataFrame): DataFrame = {
    val chunks = 4
    // simhash64 is the most CPU-dense per-row expression in the dedup
    // family (per-token dual-residue hash + 64 bit-votes): spread an
    // under-split scan first, same rationale as gramRows/minhashLsh
    Spread.toCores(documents)
      .select(col("doc_id"),
        Natives.simhash64(tokens(col("text"))).as("fp"))
      .withColumn("chunk_idx", explode(sequence(lit(0), lit(chunks - 1))))
      .withColumn("chunk",
        call_function("shiftright", col("fp"), col("chunk_idx") * 16)
          .bitwiseAND(lit(0xFFFFL)))
  }

  def simhashNearDup(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val fp = simhashChunkRows(documents)
    // bucket-then-pair (fingerprints travel inside the bucket list, so the
    // hamming verify needs no re-join and simhash64 runs once per doc)
    val buckets = fp.groupBy("chunk_idx", "chunk")
      .agg(collect_list(struct(col("doc_id"), col("fp"))).as("ids"))
      .where(size(col("ids")).between(2, MaxBucket))
    bucketPairs(buckets, "ids", dedupeContent = true)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming64(col("a.fp"), col("b.fp")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Shared-shingle near-dup pair graph: docs sharing ≥ `minShared` distinct
    * word `n`-grams. Bucket-first like the other variants (gram = bucket
    * key, [[bucketPairs]] streams in-bucket pairs); grams appearing in more
    * than `maxGramDf` docs are stop-shingles — boilerplate that would pair
    * everything with everything — and are dropped, the same skew guard as
    * `MaxBucket`. */
  /** (doc_id, gram) rows, per-doc-distinct — the gram bucketing key stream
    * shared by [[sharedGramPairs]] and [[capCensus]]. */
  private def gramRows(documents: DataFrame, n: Int): DataFrame = {
    // the shingle explode is CPU-bound: spread the rows first if the scan
    // yields fewer partitions than cores (single small file locally — a
    // parquet row group cannot be split); never fires on a real many-split
    // scan
    val spread = Spread.toCores(documents)
    // fused native shingles (graft.plans.NgramShingles, codegen): one loop
    // per doc instead of the interpreted transform+slice+concat_ws HOF —
    // identical output including the short-doc whole-document collapse
    spread.select(col("doc_id"),
      explode(array_distinct(
        Natives.shingles(tokens(col("text")), n))).as("gram"))
  }

  def sharedGramPairs(documents: DataFrame, n: Int = 4, minShared: Int = 2,
      maxGramDf: Int = 100): DataFrame = {
    val grams = gramRows(documents, n)
    val buckets = grams.groupBy("gram")
      .agg(collect_list("doc_id").as("ids"))
      .where(size(col("ids")).between(2, maxGramDf))
    bucketPairs(buckets, "ids")
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .select("doc_a", "doc_b", "n_shared")
  }

  /** MinHash Jaccard ESTIMATION — the statistic LSH is built on: for each
    * adjacent doc pair, the number of matching signature slots out of `k`
    * (E[n_match/k] = true Jaccard). This is what a pipeline uses to score
    * candidate pairs WITHOUT touching the token arrays again — the
    * signatures are k longs per doc however long the documents are, so the
    * scoring join moves O(k) per pair instead of the text. Output keeps the
    * integer slot count (the estimate is n_match/k when a consumer wants
    * the ratio — integer output keeps the oracle exact). */
  def minhashJaccardEstimate(documents: DataFrame, shingleSize: Int = 3,
      k: Int = 32): DataFrame = {
    // two join sides on different keys — persist or the corpus is
    // tokenized + signed twice per run (the minhashLsh discipline); the
    // signature frame is k longs per doc, far smaller than the tokens
    val sigs = documents.select(col("doc_id"),
      Natives.minhashSig(tokens(col("text")), shingleSize, k).as("sig"))
      .transform(Materialize.once)
    sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      .join(sigs.select((col("doc_id") - 1).as("doc_a"),
        col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_a")
      .select(col("doc_a"), col("doc_b"),
        aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (a, b) => when(a === b, 1L).otherwise(0L)),
          lit(0L), (acc, x) => acc + x).as("n_match"),
        lit(k.toLong).as("k"))
      .orderBy("doc_a")
  }

  /** Winnowing near-dup pair graph (Schleimer et al. 2003, the MOSS
    * fingerprinting scheme): docs sharing ≥ `minShared` winnowed
    * fingerprints. Same bucket-first shape as [[sharedGramPairs]], but the
    * bucketing key stream is the fused `winnow_fps` selection — ~2/(w+1) of
    * the shingle hashes — so the inverted index (and its shuffle) shrinks
    * by ~3× at the same guaranteed detection floor: any shared token run of
    * length ≥ `window + shingleSize − 1` still collides on at least one
    * fingerprint. The df cap plays the same stop-boilerplate role, and
    * capped drops are observable the [[capCensus]] way via `maxFpDf`. */
  def winnowedPairs(documents: DataFrame, shingleSize: Int = 4,
      window: Int = 3, minShared: Int = 2, maxFpDf: Int = 100): DataFrame = {
    val spread = Spread.toCores(documents)
    val fps = spread.select(col("doc_id"),
      explode(Natives.winnowFps(tokens(col("text")), shingleSize, window)).as("fp"))
    val buckets = fps.groupBy("fp")
      .agg(collect_list("doc_id").as("ids"))
      .where(size(col("ids")).between(2, maxFpDf))
    bucketPairs(buckets, "ids")
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .select("doc_a", "doc_b", "n_shared")
      .orderBy("doc_a", "doc_b")
  }

  /** Skew-cap census — makes [[MaxBucket]] and `maxGramDf` OBSERVABLE: one
    * row per bucketed near-dup path reporting how many candidate buckets
    * exist, how many the cap dropped, and how many pairs that discarded
    * (the "no silent caps" discipline: the caps are deliberate, but a run
    * that drops work must say how much). Zero drops on organic corpora;
    * non-zero flags boilerplate floods worth investigating. Each branch is
    * a count-by-key over the SAME key stream its operator buckets on —
    * sizes only, no `collect_list`, so the census is strictly cheaper than
    * the operator it audits. */
  def capCensus(documents: DataFrame, shingleSize: Int = 3, k: Int = 32,
      bands: Int = 8, gramN: Int = 4, maxGramDf: Int = 100,
      winnowShingle: Int = 4, winnowWindow: Int = 3,
      maxFpDf: Int = 100): DataFrame = {
    val toksDf = documents.select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(col("toks").isNotNull)
    def census(path: String, keyed: DataFrame, keys: Seq[String], cap: Int) =
      keyed.groupBy(keys.map(col): _*).agg(count(lit(1)).as("b"))
        .where(col("b") >= 2)
        .agg(count(lit(1)).as("n_buckets"),
          coalesce(sum(when(col("b") > cap, 1L).otherwise(0L)), lit(0L))
            .as("n_capped"),
          // b(b-1)/2 pairs never materialize for a dropped bucket; `div`
          // keeps it integer (exact — the product is even) for the oracle
          coalesce(sum(when(col("b") > cap,
            expr("b * (b - 1) div 2")).otherwise(0L)), lit(0L))
            .as("pairs_capped"))
        .select(lit(path).as("path"), col("n_buckets"), col("n_capped"),
          col("pairs_capped"))
    // parameters mirror winnowedPairs' — a census over a different config
    // than the operator ran would audit buckets the operator never formed
    val winnowFps = documents.select(col("doc_id"),
      explode(Natives.winnowFps(tokens(col("text")),
        winnowShingle, winnowWindow)).as("fp"))
    census("minhash_band",
        minhashBandRows(toksDf, shingleSize, k, bands),
        Seq("band_idx", "band_hash"), MaxBucket)
      .unionAll(census("shared_gram", gramRows(documents, gramN),
        Seq("gram"), maxGramDf))
      .unionAll(census("simhash_chunk", simhashChunkRows(documents),
        Seq("chunk_idx", "chunk"), MaxBucket))
      .unionAll(census("winnow_fp", winnowFps, Seq("fp"), maxFpDf))
      .orderBy("path")
  }

  /** Connected components over a near-dup pair graph — the clustering step
    * that turns pairwise candidates into keep/drop decisions (one survivor
    * per component). Iterative min-label propagation: every vertex starts as
    * its own label and repeatedly takes the minimum label in its closed
    * neighborhood until a fixpoint — O(component diameter) rounds, each a
    * join + aggregate (shuffles on vertex id); near-dup graphs are
    * shallow, so the loop is short. The driver checks convergence with a
    * count per round (an aggregate, not a data collect).
    *
    * Output: (doc_id, cluster_id = min doc_id in the component) for every
    * vertex that appears in `pairs`. */
  /** Edge count at or below which the whole component solve runs as ONE
    * union-find task instead of the iterative join loop. The candidate-pair
    * graph is orders of magnitude smaller than the corpus that produced it
    * (pairs survive banding + df-caps + verify), so even a 100 TB corpus
    * commonly lands under this; 2M edges is ~50 MB of hash maps in the one
    * task, far below executor memory. */
  val SmallGraphEdges = 2000000L

  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIters: Int = 20,
      smallGraphEdges: Long = SmallGraphEdges): DataFrame = {
    // Iterative loops need two disciplines or they die at scale (both
    // observed at sf0.1):
    //   1. EAGER lineage truncation (localCheckpoint) per round — the
    //      pointer-halving self-join references each round's plan twice, so
    //      without truncation the logical tree doubles per round and merely
    //      RENDERING the plan OOMs the driver by round ~20. cache() stores
    //      data but does NOT cut the plan; checkpointing does both, and it
    //      also stops the loop re-executing the (expensive) pair pipeline
    //      every round.
    //   2. No Union inside the loop — min-over-neighborhood includes SELF
    //      via explicit self-loop edges instead of unioning the label table
    //      back in each round.
    // materialize the pair pipeline ONCE before fanning out: `pairs` is
    // referenced four times below (2× in `directed`, 2× more via
    // `selfLoops`), and exchange reuse demonstrably does not fire across
    // the union branches — the 256× probe of corpus_retention_funnel
    // showed the gram-postings shuffle inside sharedGramPairs executed
    // FOUR byte-identical times (4 × 64.9M rows / 1.87 GB written, ~70%
    // of the query's taskSec). Checkpointing the projected pair list
    // first makes every branch a block read of (src, dst) longs.
    val p = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .transform(Materialize.once)
    val directed = p
      .unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
    val selfLoops = directed.select(col("src")).distinct()
      .select(col("src"), col("src").as("dst"))
    val edges = directed.unionByName(selfLoops).distinct()
      .transform(Materialize.once)
    // metadata-driven algorithm choice (the checkpoint makes the count
    // free): small graphs solve exactly in one union-find task — zero loop
    // rounds, zero extra shuffles; big graphs take the O(log diameter)
    // label-propagation loop below. Same (doc_id, min-id cluster) output.
    // The one-task solver's hash maps are keyed on longs, so only integral
    // id types take it; anything else (string keys from entity resolution
    // over natural ids) uses the loop, whose min() is type-generic.
    val integralIds = {
      import org.apache.spark.sql.types.{IntegerType, LongType}
      edges.schema("src").dataType match {
        case LongType | IntegerType => true
        case _ => false
      }
    }
    if (integralIds && edges.count() <= smallGraphEdges)
      return unionFindOneTask(edges)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .transform(Materialize.once)
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // min label over the closed neighborhood; the self-loop row (dst ==
      // src) carries the vertex's own label, so the same aggregate also
      // yields the PREVIOUS label — the convergence flag comes out of this
      // one job instead of a separate join-with-old-labels pass per round
      // checkpoint l1, NOT next: next references l1 twice (the halving
      // self-join), so a lazy l1 would run the edges-join-aggregate —
      // the expensive part of the round — twice; materializing here makes
      // the self-join read V-sized checkpointed blocks and also keeps the
      // per-round plan depth constant
      val l1 = edges
        .join(labels.withColumnRenamed("id", "dst2"),
          col("dst") === col("dst2"))
        .groupBy(col("src").as("id"))
        .agg(min("label").as("label"),
          min(when(col("dst") === col("src"), col("label"))).as("old"))
        .transform(Materialize.once)
      // then pointer-halve: label := label(label). Every label IS a vertex
      // id (it is a min over ids), so the self-join is total. With the
      // halving, a diameter-d chain converges in O(log d) rounds, not
      // O(d) — the difference between 5 and 50 full passes on chain-shaped
      // near-dup runs.
      // next stays lazy: both sides read the checkpointed l1, so the
      // `changed` count below and next round's reuse re-run only the
      // cheap V×V self-join, never the edge aggregation
      val next = l1.as("a")
        .join(l1.select(col("id").as("lid"), col("label").as("label2")),
          col("a.label") === col("lid"))
        .select(col("a.id").as("id"),
          least(col("a.label"), col("label2")).as("label"),
          col("a.old").as("old"))
      val changed = next.where(col("label") =!= col("old")).limit(1).count()
      labels = next.drop("old")
      converged = changed == 0
      i += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Exact connected components in a single task: union-find with
    * union-by-min + path compression over the (already materialized,
    * deduplicated) edge list. Produces the identical (vertex, min id in
    * component) labeling the iterative loop converges to. Runs as ONE
    * executor task over a coalesced partition — not a driver collect. */
  private def unionFindOneTask(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{StructField, StructType}
    val idType = edges.schema("src").dataType
    val outSchema = StructType(Seq(
      StructField("doc_id", idType, nullable = false),
      StructField("cluster_id", idType, nullable = false)))
    val labeled = edges.coalesce(1).mapPartitions { it =>
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      it.foreach { row =>
        val a = row.getAs[Number](0).longValue()
        val b = row.getAs[Number](1).longValue()
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        // union by MIN id: the root IS the component's cluster_id
        if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
      }
      val ids = parent.keySet().toArray(Array.empty[java.lang.Long])
      ids.iterator.map { id =>
        val v: Any = idType match {
          case org.apache.spark.sql.types.LongType => Long.box(id)
          case org.apache.spark.sql.types.IntegerType => Int.box(id.toInt)
          case _ => Long.box(id)
        }
        val r: Any = idType match {
          case org.apache.spark.sql.types.IntegerType => Int.box(find(id).toInt)
          case _ => Long.box(find(id))
        }
        Row(v, r)
      }
    }(Encoders.row(outSchema))
    labeled.orderBy("doc_id")
  }

  /** The end of the dedup pipeline: the KEPT corpus. Near-dup pairs →
    * connected components → drop every clustered doc except its
    * representative (the component's min id, which IS `cluster_id`);
    * unclustered docs survive untouched. One left-anti join against the
    * (tiny relative to the corpus) drop set — the decision step that turns
    * pairwise similarity into an actual deduplicated 100 TB corpus. */
  def survivors(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val drops = connectedComponents(pairs)
      .where(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    documents.select("doc_id", "source")
      .join(drops, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Exact n-gram Jaccard over a deterministic pair set (adjacent doc_ids) —
    * the SQL-expressible ground truth the LSH variants approximate, and the
    * DuckDB-oracle anchor for the similarity math. */
  def ngramJaccardAdjacent(documents: DataFrame, n: Int = 2): DataFrame = {
    val shingled = documents.select(col("doc_id"),
      array_distinct(
        Natives.shingles(tokens(col("text")), n)).as("grams"))
    val a = shingled.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"))
    val b = shingled.select((col("doc_id") - 1).as("doc_a"),
      col("doc_id").as("doc_b"), col("grams").as("grams_b"))
    a.join(b, "doc_a")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("grams_a"), col("grams_b"))).as("n_common"),
        size(array_union(col("grams_a"), col("grams_b"))).as("n_union"))
      .orderBy("doc_a")
  }

  /** Embedding near-dup: cosine over adjacent vec_ids (deterministic pair
    * set; the ANN-bucketed variant lives in SimSearch.lshTopK). */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.3): DataFrame = {
    val a = embeddings.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = embeddings.select((col("vec_id") - 1).as("vec_a"),
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, "vec_a")
      // native codegen cosine; rounded to 6 decimals so engine-level
      // summation-order noise (~1e-16) can't flip the oracle comparison
      .select(col("vec_a"), col("vec_b"),
        round(Natives.cosineSim(col("emb_a"), col("emb_b")), 6).as("cos"))
      .where(col("cos") >= threshold)
      .orderBy("vec_a")
  }

  /** Blocked fuzzy record linkage: edit-distance matching WITHOUT the n²
    * cross product. Records hash into blocks (here: the entity-key prefix —
    * any coarse blocking key works), candidate pairs form only inside a
    * block via a self-equi-join, and the exact Levenshtein verify runs on
    * candidates alone. Block size is bounded by the key design (≤ `keySpan`
    * entities per block), so pair count grows linearly with blocks — the
    * standard blocking discipline every record-linkage system (and the
    * MinHash-LSH path above) uses at scale. Output is the per-block
    * candidate/match census — integers, exact cross-engine. */
  /** Blocked candidate pairs shared by [[fuzzyLinkBlocked]] and
    * [[fuzzyEntityClusters]] — ONE definition of the blocking key and the
    * pair predicate, so the census and the resolver can never silently
    * diverge on which candidate set they examined. */
  private def blockedNamePairs(customer: DataFrame, keySpan: Int): DataFrame = {
    // keySpan = 0 is `div 0` — an executor-side error under ANSI, a silent
    // NULL block (one corpus-wide bucket) without it
    require(keySpan >= 1, s"blocked linkage: keySpan must be >= 1, got $keySpan")
    val keyed = customer.select(
      expr(s"c_custkey div $keySpan").as("block"),
      col("c_custkey"), col("c_name"))
    // shuffle_hash, never broadcast: while the build-side ESTIMATE is under
    // the broadcast threshold Spark (statically, or AQE at runtime) plans
    // this self-join as a BroadcastHashJoin, and the in-block pair
    // explosion + edit-distance verify then inherit the PROBE SCAN's split
    // count — one ~100 MB parquet file is 1-3 splits, so the whole verify
    // runs nearly serial (measured on the 64× replica: 3 tasks, one doing
    // 27 s of 27.7 s total; the 128× replica crossed the threshold,
    // shuffled, and ran the verify 6× faster on 2× the pairs). A
    // block-hashed exchange costs one linear shuffle of (block, key, name)
    // rows and makes the verify width `shuffle.partitions` at EVERY scale
    // — blocks are keySpan-bounded, so per-partition build state is tiny.
    keyed.select(col("block"), col("c_custkey").as("key_a"),
        col("c_name").as("name_a")).hint("shuffle_hash")
      .join(keyed.select(col("block"), col("c_custkey").as("key_b"),
        col("c_name").as("name_b")), "block")
      .where(col("key_a") < col("key_b"))
  }

  def fuzzyLinkBlocked(customer: DataFrame, keySpan: Int = 100,
      maxEdits: Int = 1): DataFrame = {
    blockedNamePairs(customer, keySpan)
      .groupBy("block")
      .agg(count(lit(1)).as("n_candidates"),
        // banded native verify: O(k·len) per pair, decides exactly the
        // same set as levenshtein(a, b) <= maxEdits (see BoundedLevenshtein
        // for why not Spark's own banded levenshtein(a, b, k))
        count(when(
          Natives.levBounded(col("name_a"), col("name_b"), maxEdits) <= maxEdits, 1))
          .as("n_matches"))
      .orderBy("block")
  }

  /** End-to-end entity resolution: [[fuzzyLinkBlocked]]'s pair generation
    * (block → banded-edit-distance verify) composed with
    * [[connectedComponents]] — the full dedup-a-customer-file pipeline,
    * one row per resolved entity cluster (cluster_id = the lowest member
    * key, the canonical-record choice) with its member count. Transitive:
    * A~B and B~C land in ONE cluster even when A and C differ by more than
    * `maxEdits` — the behavior record-linkage needs and a pairwise report
    * cannot give. */
  def fuzzyEntityClusters(customer: DataFrame, keySpan: Int = 100,
      maxEdits: Int = 1): DataFrame = {
    val pairs = blockedNamePairs(customer, keySpan)
      .where(
        Natives.levBounded(col("name_a"), col("name_b"), maxEdits) <= maxEdits)
      .select(col("key_a").as("doc_a"), col("key_b").as("doc_b"))
    connectedComponents(pairs)
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"))
      .orderBy("cluster_id")
  }

  /** Prefix-filtered set-similarity join (the PPJoin family: Chaudhuri,
    * Ganti & Kaushik, ICDE 2006; Xiao et al., WWW 2008) — the EXACT-result
    * complement of the probabilistic LSH path. Finds every document pair
    * with token-set Jaccard ≥ `minJaccardPct`/100, with zero false
    * negatives, yet never compares all pairs.
    *
    * The filter: order each document's shingles by global rarity (document
    * frequency asc, shingle asc — one total order both engines replay). If
    * J(x,y) ≥ t then |x∩y| ≥ ⌈t·|x|⌉, so y must hit one of x's first
    * |x| − ⌈t·|x|⌉ + 1 shingles — candidates therefore only need to collide
    * on a PREFIX shingle. Rarest-first ordering makes those prefix postings
    * the SHORTEST lists in the corpus, exactly where a bucket self-join is
    * cheapest; the verify is the usual integer cross-multiplied Jaccard
    * (100·|∩| ≥ pct·|∪| — no float threshold).
    *
    * The set elements are `n`-token shingles (the minhashLsh basis), not
    * unigrams: unigram SETS wash out on any corpus with a shared
    * vocabulary (measured: 92k of 125k possible pairs at sf0.01 pass
    * J ≥ 0.5 on unigrams, vs 25 genuine near-dups on 3-shingles) —
    * word ORDER is what distinguishes documents, and shingles carry it.
    *
    * Shape at 100 TB: df ranking is one vocabulary-sized aggregate + an
    * equi-join back (the shuffle any global weighting pays); prefix postings
    * are bucket-capped like every near-dup variant; pair volume is bounded
    * by the prefix posting-list sizes, not n². */
  def prefixFilterPairs(documents: DataFrame, minJaccardPct: Int = 50,
      n: Int = 3): DataFrame = {
    // t <= 0 makes the prefix the WHOLE set (the all-pairs inverted index
    // the prefix filter exists to avoid) and the verify threshold vacuous;
    // t > 100 is an impossible Jaccard
    require(minJaccardPct >= 1 && minJaccardPct <= 100,
      s"prefixFilterPairs: minJaccardPct must be in [1, 100], got $minJaccardPct")
    import org.apache.spark.sql.expressions.Window
    // Set elements travel as int64 polynomial hashes (the cross-engine
    // minhash base hash, replayed in the oracle SQL), NOT as shingle
    // strings: every downstream exchange, sort, and intersect then moves
    // fixed-width longs instead of ~25-byte strings. A hash collision
    // would merge two shingles IDENTICALLY in both engines (same
    // polynomial both sides), so the oracle compare is unaffected.
    //
    // Three consumers (prefix explode, verify side a, verify side b) — the
    // minhashLsh persist discipline, or the corpus re-shingles 3× per run;
    // Spread first: shingling is CPU-bound row-local work and a small
    // parquet scan is ONE partition (measured 6.3 s → sub-second at sf0.1)
    val sets = Spread.toCores(documents)
      .select(col("doc_id"),
        array_distinct(Natives.shingleHashArr(tokens(col("text")), n)).as("hs"))
      .transform(Materialize.once)
    val exploded = sets
      .select(col("doc_id"), size(col("hs")).as("len"),
        explode(col("hs")).as("h"))
    val dfCounts = exploded.groupBy("h").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("h"))
    val prefix = exploded.join(dfCounts, Seq("h"))
      .withColumn("rn", row_number().over(byRarity))
      .where(col("rn") <=
        col("len") - expr(s"($minJaccardPct * len + 99) div 100") + 1)
      .select("h", "doc_id", "len", "rn")
    // members carry (len, rn) so the PPJoin pruning filters run AT pair
    // generation, before the distinct — measured at sf0.1 they cut the
    // candidate set 409k → 125k:
    //   - length filter: J ≥ t forces t·|x| ≤ |y| (and symmetrically)
    //   - positional filter: both docs order by the SAME global rarity
    //     order, so at the first shared prefix gram the remaining overlap
    //     is at most 1 + min(len_a − rn_a, len_b − rn_b), which must reach
    //     the required overlap α = ⌈t/(1+t)·(len_a+len_b)⌉; the
    //     first-common-gram row has the loosest bound, so EXISTS-over-rows
    //     keeps zero false negatives
    val buckets = prefix.groupBy("h")
      .agg(collect_list(struct(col("doc_id"), col("len"), col("rn"))).as("ms"))
      .where(size(col("ms")).between(2, MaxBucket))
    // halving form (the bucketPairs discipline): the partner list is
    // filtered INSIDE the array before explode, so a b-member posting
    // generates ~b²/2 rows instead of b² and every PPJoin predicate
    // evaluates in the lambda, before row generation. The positional
    // bound is integer ceil-div computed in exact small-int range, so
    // floor(x/y) over doubles is exact.
    val t = minJaccardPct
    val denom = 100 + t
    val cand = buckets
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"),
        explode(filter(col("ms"), m =>
          m.getField("doc_id") > col("a.doc_id")
            && m.getField("len") * 100 >= col("a.len") * t
            && col("a.len") * 100 >= m.getField("len") * t
            && lit(1) + least(col("a.len") - col("a.rn"),
                 m.getField("len") - m.getField("rn"))
               >= floor((lit(t) * (col("a.len") + m.getField("len"))
                   + lit(denom - 1)) / lit(denom))
        )).as("b"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"))
      .distinct()
    // verify joins carry a CORPUS-shaped side: hint shuffle-hash so the
    // planner never auto-broadcasts it (locally legal under the 10 MB
    // threshold but 2× a 3.3 s single-task relation build — and flatly
    // wrong at 100 TB)
    val inter = size(array_intersect(col("hs_a"), col("hs_b")))
    cand
      .join(sets.select(col("doc_id").as("a"), col("hs").as("hs_a"))
        .hint("shuffle_hash"), "a")
      .join(sets.select(col("doc_id").as("b"), col("hs").as("hs_b"))
        .hint("shuffle_hash"), "b")
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        inter.as("n_common"),
        (size(col("hs_a")) + size(col("hs_b")) - inter).as("n_union"))
      .where(col("n_common") * 100 >= col("n_union") * minJaccardPct)
      .orderBy("doc_a", "doc_b")
  }
}
