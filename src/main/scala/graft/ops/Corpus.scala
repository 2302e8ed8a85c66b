package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.Natives
import graft.functions.GraftFunctions._

/** Corpus-assembly operators for a training-data pipeline (SURVEY.md §2.6 /
  * BASELINE north star): sequence packing and benchmark decontamination.
  */
object Corpus {

  /** Content-defined chunking — the dedup primitive that survives
    * insertions: fixed-size chunking shifts every boundary after an edit,
    * but cutting where a ROLLING hash of the last `window` tokens satisfies
    * a mask (the gear/Rabin CDC family: LBFS, Muthitacharoen et al. 2001;
    * FastCDC) re-synchronizes within one window of the edit, so two
    * near-identical documents still share most chunks. Used by storage
    * dedup and by training-data pipelines to find partially-duplicated
    * documents at sub-document granularity without the O(n²) of
    * shingle-set comparison.
    *
    * This is threshold CDC in its pure form — a cut after token j+window−1
    * wherever the `window`-token shingle hash ≡ 0 (mod `mask`), expected
    * chunk length = `mask` tokens, no min/max clamp (the clamps are a
    * sequential-scan refinement; the unclamped cut set is what both
    * engines can reproduce as pure column math, and chunk-size outliers
    * are visible in the census rather than silently rewritten). Chunk
    * content is fingerprinted with the dual-residue polynomial
    * ([[graft.plans.Natives.polyFp]], 62 effective bits), and the census
    * reports, per document, its chunk count and how many of its chunks also
    * appear in ANOTHER document — the sub-document duplication signal.
    *
    * Scale shape: cuts and chunk strings are row-local HOFs over the token
    * array (no shuffle, [[Spread.toCores]] pre-spread); the only shuffles
    * are the chunk-hash `groupBy` (rows = total chunks ≈ tokens/mask,
    * corpus-linear) and the semi-join back — never a pair explosion. */
  def cdcChunks(documents: DataFrame, window: Int = 4,
      mask: Int = 32): DataFrame = {
    require(window >= 1 && mask >= 1, s"bad CDC params: $window, $mask")
    // the fingerprint fold is applied PER EXPLODED ROW, not nested inside a
    // transform lambda over the cuts array: with the nested form the
    // optimizer's inferred not-null/size filter below the Generate inlines
    // the whole chunk+fingerprint chain into a Filter predicate that is
    // re-evaluated per row on top of the Generate's own evaluation — a
    // measured ~200× blowup at sf0.001. Per-row expressions after the
    // explode keep every fold single-evaluation.
    //
    // The chunk table has two consumers (the per-doc chunk count and the
    // chunk-hash census), so it is materialized once like the sibling
    // fan-outs: a lineage cut stops any downstream rule from re-deriving
    // the chunk computation, and both consumers read the stored blocks.
    // Timed on the full result at sf0.1 (4 cores, 10 interleaved pairs)
    // it ran in 1.14 s median against 1.21 s for the lazy cache it
    // replaces; an earlier 256× reading that favoured the lazy cache was
    // taken under `count()`, which prunes the census branch entirely.
    val chunked = Spread.toCores(documents)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      // fused native shingle-hash loop (graft.plans.ShingleHashArray):
      // window build + polynomial fold in one pass, no shingle-string array
      .withColumn("hs", Natives.shingleHashArr(col("toks"), window))
      // cut positions are EXCLUSIVE token end-counts; a cut at n would
      // duplicate the final boundary, so it is excluded and appended once
      .withColumn("cuts",
        concat(
          when(col("n") < lit(window),
            expr("array()").cast("array<int>"))
            .otherwise(transform(
              filter(sequence(lit(0), col("n") - lit(window)),
                j => element_at(col("hs"), j + 1) % lit(mask) === lit(0)
                  && (j + lit(window)) < col("n")),
              j => (j + lit(window)).cast("int"))),
          array(col("n"))))
      .withColumn("chunks", transform(col("cuts"), (c, j) => {
        val prev = when(j === lit(0), lit(0))
          .otherwise(element_at(col("cuts"), j))
        concat_ws(" ", slice(col("toks"), prev + 1, c - prev))
      }))
      .select(col("doc_id"), size(col("cuts")).as("n_chunks"), col("chunks"))
      .transform(Materialize.once)
    val chunks = chunked
      .select(col("doc_id"), explode(col("chunks")).as("cstr"))
      .select(col("doc_id"), Natives.polyFp(col("cstr")).as("chash"))
    val dup = chunks.groupBy("chash")
      .agg(countDistinct("doc_id").as("nd"))
      .where(col("nd") >= 2).select("chash")
    val dupCensus = chunks.join(dup, Seq("chash"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup0"))
    chunked.select(col("doc_id"), col("n_chunks"))
      .join(dupCensus, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_dup0"), lit(0L)).as("n_dup_chunks"))
      .orderBy("doc_id")
  }

  /** Concat-and-chunk sequence packing — the exact assignment LLM
    * pretraining uses: the corpus is treated as one concatenated token
    * stream per `source` and chunked into fixed `budget`-token packs; a doc
    * whose tokens straddle a boundary is split across the two packs (hence
    * `offset_in_pack + n_tokens` may exceed `budget` — the tail spills
    * forward).
    *
    * Scale design: the running token sum comes from
    * [[Rank.groupRunningSums]] — the distributed prefix sum — so even a
    * source holding most of the corpus never funnels through one reducer
    * (a `Window.partitionBy(source)` running frame would). Stream order
    * within a source is doc_id — any deterministic order works, and a
    * shuffled order would just be a different (equally valid) pack
    * assignment. Output is pure integer arithmetic over the prefix sum, so
    * the oracle reproduces it exactly. */
  def packSequences(documents: DataFrame, budget: Int = 2048): DataFrame = {
    // budget = 0 → floor(offset/0) = Inf → a silent Int.MaxValue pack_id
    // under non-ANSI casting
    require(budget >= 1, s"packSequences: budget must be >= 1, got $budget")
    val counted = documents
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"))
    Rank.groupRunningSums(counted, Seq("source"), Seq(col("doc_id")), "n_tokens")
      .withColumn("offset", col("running") - col("n_tokens"))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        // floor(long / int): the double division is exact (offsets < 2^53)
        floor(col("offset") / budget).cast("int").as("pack_id"),
        (col("offset") % budget).cast("int").as("offset_in_pack"))
      .orderBy("source", "doc_id")
  }

  /** Sliding-window document chunking — the context-window splitter every
    * RAG / pretraining ingest runs: fixed `size`-char chunks advancing by
    * `stride` chars (so consecutive chunks overlap by `size - stride`).
    * Chunk starts are `0, stride, 2·stride, …` while they fall inside the
    * document, i.e. `1 + floor((len-1)/stride)` chunks per doc.
    *
    * Scale design: `explode(sequence(...))` is a row-local generator — no
    * shuffle, no driver involvement, and each output chunk is produced on
    * the partition holding its source doc. The expansion factor is
    * `len/stride`, bounded by the corpus's own size — the one unavoidable
    * cost of chunking. */
  def chunkOverlap(documents: DataFrame, size: Int = 120, stride: Int = 90): DataFrame =
    chunks(documents, size, stride).orderBy("doc_id", "chunk_id")

  /** [[chunkOverlap]] without the presentation sort — the reusable core
    * ([[contrastivePairs]] joins it against itself; sorting both join
    * inputs first would be wasted work). */
  private def chunks(documents: DataFrame, size: Int, stride: Int): DataFrame = {
    require(stride > 0 && size >= stride, "overlapping fixed windows need 0 < stride <= size")
    documents
      // empty docs produce NO chunks (the oracle's range() semantics) —
      // without this, floor((0-1)/stride) = -1 makes sequence(0,-1) emit a
      // DESCENDING [0,-1] pair: Spark infers step -1 when start > stop
      .where(length(col("text")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0),
          floor((length(col("text")) - 1) / stride).cast("int"))).as("chunk_id"),
        col("text"))
      .select(col("doc_id"), col("chunk_id"),
        expr(s"substring(text, chunk_id * $stride + 1, $size)").as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")))
  }

  /** Contrastive (anchor, positive) pair mining — the self-supervised data
    * an embedding model trains on: adjacent overlapping chunks of the SAME
    * document form a positive pair (they share `size - stride` chars of
    * context); negatives come free from in-batch sampling downstream. The
    * join key is (doc_id, chunk_id ± 1), so pairs are generated by one
    * equi-join on the chunk stream — row-local chunking, no cross-document
    * work, output bounded by the chunk count. */
  def contrastivePairs(documents: DataFrame, size: Int = 120,
      stride: Int = 90): DataFrame = {
    val c = chunks(documents, size, stride)
    c.select(col("doc_id"), col("chunk_id").as("chunk_a"),
        col("chunk_text").as("text_a"))
      .join(c.select(col("doc_id"), (col("chunk_id") - 1).as("chunk_a"),
          col("chunk_id").as("chunk_b"), col("chunk_text").as("text_b")),
        Seq("doc_id", "chunk_a"))
      .select("doc_id", "chunk_a", "chunk_b", "text_a", "text_b")
      .orderBy("doc_id", "chunk_a")
  }

  /** Stable contiguous id assignment over the corpus: global `row_number`
    * by (lang, doc_id) via [[Rank.groupRanks]] with no group — the
    * scale-safe form of "re-id a 100 TB corpus" (a plain global window puts
    * every row through one reducer; `monotonically_increasing_id` is
    * neither contiguous nor order-stable). */
  def assignIds(documents: DataFrame): DataFrame =
    Rank.groupRanks(
        documents.select(col("doc_id"), col("lang")),
        Seq.empty, Seq(col("lang"), col("doc_id")))
      .select(col("rank").as("new_id"), col("doc_id"), col("lang"))
      .orderBy("new_id")

  /** Cross-source corpus overlap: per source-pair shared-shingle counts and
    * n-gram Jaccard — the "how much does corpus A repeat corpus B" census a
    * mixture designer reads before setting sampling weights. Distinct
    * (source, shingle) first (map-side dedup), then a shingle self-join:
    * each shingle contributes at most |sources|² pair rows no matter how
    * big the corpus is, so the join output is O(distinct_shingles ·
    * sources²) — bounded by the SOURCE count, not the document count. The
    * Jaccard is reported on the micro grid (`⌊10⁶·shared/union⌋`, integer
    * floor division over the exact counts): one integer op both engines
    * compute identically, no double division whose rounding could differ
    * cross-engine at a boundary. */
  /** `⌊10⁶·shared/union⌋` over columns (n_shared, na, nb). union ≥
    * n_shared ≥ 1 (a pair row exists only via a shared gram), so the
    * divisor is never 0. The ·10⁶ blow-up runs in decimal(38) (the tfidf
    * cos2_micro discipline), NOT int64: n_shared past 9.2e12 would wrap
    * int64 SILENTLY under non-ANSI Spark while the DuckDB oracle errors
    * loudly. Decimal(38) widens the headroom past any reachable n_shared
    * (10⁶·n_shared hits 38 digits only at n_shared ≈ 10³², astronomically
    * beyond any corpus); note it is NOT loud under ansi-off Spark —
    * decimal overflow there yields NULL silently — the defense is the
    * unreachable bound, not an error path. The floored quotient ≤ 10⁶
    * always fits the BIGINT result. */
  private[graft] def jaccardMicroExpr: org.apache.spark.sql.Column =
    expr("CAST(CAST(n_shared AS DECIMAL(38,0)) * 1000000 DIV " +
      "(na + nb - n_shared) AS BIGINT)")

  def sourceOverlap(documents: DataFrame, n: Int = 3): DataFrame = {
    // bucket-then-pair (the Dedup.bucketPairs shape), not a self-join, and
    // ONE corpus-sized shuffle total: collect_set dedups per gram (no
    // separate global distinct pass), per-source gram counts come from the
    // already-aggregated gram table, and pairs explode from each gram's
    // ≤|sources| array. The self-join formulation shuffled the corpus
    // twice more and recomputed the shingle scan on both sides.
    // the shingle explode is CPU-bound: spread the rows first when the scan
    // yields fewer partitions than cores (single small file locally — one
    // parquet row group cannot split); never fires on a real many-split scan
    val spread = Spread.toCores(documents)
    val gramSrcs = spread
      .select(col("source"), explode(array_distinct(
          Natives.shingles(tokens(col("text")), n)))
        .as("gram"))
      .groupBy("gram")
      .agg(array_sort(collect_set(col("source"))).as("srcs"))
      .transform(Materialize.once) // read twice: sizes + pairs
    val sizes = gramSrcs
      .select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_grams"))
    gramSrcs
      .select(col("srcs"), explode(col("srcs")).as("src_a"))
      .select(col("src_a"),
        explode(filter(col("srcs"), x => x > col("src_a"))).as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n_grams").as("na"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n_grams").as("nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        jaccardMicroExpr.as("jaccard_micro"))
      .orderBy("src_a", "src_b")
  }

  /** The composed C4/Gopher-style keep/drop decision: length fit, stopword
    * presence, alphabetic purity, low n-gram repetition, and language-ID
    * agreement with the declared tag — each check a reason BIT, so a
    * rejected doc reports exactly why. The individual signals are the
    * already-oracled [[TextOps]] formulas; this is the one-pass fused filter
    * a 100 TB ingest actually runs (zero shuffle — every check is per-row
    * column math). */
  def qualityFilter(documents: DataFrame): DataFrame = {
    // tokenize and 2-gram ONCE per row (the tokenStats layering
    // discipline + fused native shingles): the single-projection form
    // re-ran the regex split for each check and the shingle chain for
    // both sides of the repetition ratio
    val toks = col("_toks")
    val stop = array(Seq("the", "a", "and", "of", "to", "in", "is", "on").map(lit): _*)
    val g2 = col("_g2")
    val dup2 = lit(1.0) - size(array_distinct(g2)).cast("double") / size(g2)
    val nNonalpha = length(regexp_replace(col("text"), "[a-z ]", ""))
    // NULL on empty text — ANSI mode turns /0 into a job-killing exception
    // (the reject bit then fires via the otherwise-branch, as it should)
    val alphaRatio = when(length(col("text")) === 0, lit(null))
      .otherwise(lit(1.0) - nNonalpha.cast("double") / length(col("text")))
    val nStop = size(filter(toks, t => array_contains(stop, t)))
    val checks: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "len" -> size(toks).between(10, 1000),
      "stop" -> (nStop >= 1),
      "alpha" -> (alphaRatio >= 0.8),
      "rep" -> (dup2 <= 0.2))
    val reason = checks.zipWithIndex
      .map { case ((_, c), i) => when(c, lit(0)).otherwise(lit(1 << i)) }
      .reduce(_ + _)
    documents
      .select(col("doc_id"), col("text"), tokens(col("text")).as("_toks"))
      .select(col("doc_id"), col("text"), col("_toks"),
        Natives.shingles(col("_toks"), 2).as("_g2"))
      .select(col("doc_id"), reason.as("reject_reasons"))
      .withColumn("keep", (col("reject_reasons") === 0).cast("int"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: training docs sharing at least one `n`-gram
    * shingle with the benchmark set, with the overlap count — the contains-
    * check run before a corpus ships. The benchmark's distinct shingles are
    * a broadcast build side (benchmarks are small by definition); the corpus
    * side explodes its distinct shingles once and probes — shuffle volume is
    * O(matching shingles), never corpus × benchmark. */
  def decontaminate(documents: DataFrame, benchMaxDocId: Long = 5,
      n: Int = 4): DataFrame = {
    // fused native shingles (codegen) - identical output to the HOF form
    val grams = array_distinct(
      Natives.shingles(tokens(col("text")), n))
    val bench = documents.where(col("doc_id") < benchMaxDocId)
      .select(explode(grams).as("gram")).distinct()
    val corpus = documents.where(col("doc_id") >= benchMaxDocId)
    // the shingle explode is CPU-bound: if the scan yields fewer partitions
    // than cores (single small file locally — a parquet row group cannot be
    // split), spread the rows first; at real scale the scan already has
    // thousands of splits and this branch never fires
    val spread = Spread.toCores(corpus)
    spread
      .select(col("doc_id"), explode(grams).as("gram"))
      .join(broadcast(bench), "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  /** Order-independent per-source corpus checksum: the integrity check run
    * after every 100 TB copy/migration — a commutative reduction (sum of
    * per-doc polynomial fingerprints mod 2^31-1) is partition- and
    * arrival-order-free, so any two runs over the same rows agree no matter
    * the partitioning, and a single flipped byte changes the sum. Min/max
    * fingerprints come along as cheap spot-check anchors. The residue keeps
    * the sum below 2^44 at any realistic doc count — ANSI-overflow-safe. */
  def checksum(documents: DataFrame): DataFrame = {
    val h = Natives.polyFp(col("text"))
    documents
      .select(col("source"), (h % 2147483647L).as("hr"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("hr")).as("checksum"),
        min(col("hr")).as("h_min"),
        max(col("hr")).as("h_max"))
      .orderBy("source")
  }

  /** Boilerplate-segment removal — the C4 cleaning rule ("remove any line
    * that appears more than N times in the corpus") adapted to this
    * corpus's segmentation: documents split into consecutive `segTokens`-
    * token segments, any segment whose document frequency exceeds
    * `maxSegDf` (nav menus, cookie banners, license headers) is dropped
    * from EVERY document, and the survivors are reassembled in order.
    * Segmenting is row-local column math (no token-stream shuffle); the
    * df count is the only exchange; the boilerplate join stays on the
    * exploded segment stream. Output keeps the cleaned text plus the
    * kept/total accounting — the census the "no silent caps" rule wants. */
  def stripBoilerplate(documents: DataFrame, segTokens: Int = 8,
      maxSegDf: Int = 2): DataFrame = {
    // segTokens = 0 → ceil(n/0) = Inf segment counts; maxSegDf = 0 strips
    // every segment (df >= 1 by construction) — both parameter misuse
    require(segTokens >= 1 && maxSegDf >= 1,
      s"stripBoilerplate: bad params segTokens=$segTokens maxSegDf=$maxSegDf")
    val toks = tokens(col("text"))
    val nSegs = ceil(size(toks).cast("double") / segTokens).cast("int")
    // empty-doc guard: sequence(0, -1) DESCENDS in Spark, fabricating two
    // bogus segments for a zero-token document — same guard as chunkOverlap.
    // Layered projections (the tokenStats discipline): the inlined form
    // re-ran tokens(text) three times per row (twice via the nSegs copies,
    // once in the slice lambda); here the token array and segment count are
    // attributes computed once each.
    val segList = when(col("_n") > 0,
      transform(sequence(lit(0), col("_n") - 1),
        i => concat_ws(" ",
          slice(col("_toks"), i * segTokens + 1, lit(segTokens)))))
      .otherwise(array().cast("array<string>"))
    val segs = documents
      .select(col("doc_id"), tokens(col("text")).as("_toks"))
      .select(col("doc_id"), col("_toks"),
        ceil(size(col("_toks")).cast("double") / segTokens).cast("int")
          .as("_n"))
      .select(col("doc_id"), posexplode(segList).as(Seq("seg_idx", "seg")))
    val df = segs.select("seg", "doc_id").distinct()
      .groupBy("seg").agg(count(lit(1)).as("seg_df"))
    val marked = segs.join(df, "seg") // df carries every seg: inner is total
    val kept = marked.where(col("seg_df") <= maxSegDf)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s.getField("seg"))).as("clean_text"))
    documents.select(col("doc_id"), nSegs.as("n_segments"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** SEMANTIC decontamination — the embedding-space companion to the
    * n-gram [[decontaminate]]: corpus vectors whose cosine against ANY
    * benchmark vector clears the threshold (paraphrased benchmark text
    * shares no shingles but still lands next to the benchmark in embedding
    * space). Same zero-shuffle shape as `Ml.assign`: the benchmark vectors
    * (small by definition) are collected and INLINED as literals, so the
    * corpus is scanned once with per-row column math — no join, no corpus
    * shuffle, only the final (vec_id, n_hits) aggregate output moves. The
    * cosine test is the exact cross-multiplied integer form on the
    * round(x·100) grid (`dot² · thrDen ≥ ‖a‖² · ‖b‖² · thrNum`, default
    * cos ≥ 0.35) — no sqrt, no float drift, oracle replays it bit-for-bit.
    * Same int64 guard discipline as `Ml.semDedup`. */
  def decontaminateSemantic(embeddings: DataFrame, benchMaxVecId: Long = 5,
      thrNum: Long = 49, thrDen: Long = 400): DataFrame = {
    // same contract as Ml.semDedup: thrDen = 0 makes the cosine test
    // vacuously false (nothing ever flags — a silently useless decontam)
    require(thrDen >= 1 && thrNum >= 0,
      s"decontaminateSemantic: need thrDen >= 1 and thrNum >= 0, got $thrNum/$thrDen")
    // spread before the per-row quantize + |bench|-way integer dot scoring:
    // the single-file embeddings scan is one split at any replica scale, so
    // un-spread the whole corpus-side scoring runs on one core (the bench
    // collect's vec_id filter still pushes through the exchange to the scan)
    val q = Spread.toCores(embeddings).select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 100).cast("long")).as("qv"))
    val bench = q.where(col("vec_id") < benchMaxVecId)
      .collect().map { r =>
        val v = r.getSeq[Long](1)
        (r.getLong(0), v, v.map(x => x * x).sum)
      }.toSeq
    if (bench.isEmpty)
      return q.select(col("vec_id"), lit(0L).as("n_bench_hits")).limit(0)
    // Loud overflow guard (see Ml.semDedup), folded INTO the scoring pass
    // instead of a separate full corpus aggregate: the per-row condition
    // m_row ≤ (Long.Max/(d_row²·thr))^¼ bounds this row's norm by
    // na ≤ d·m² ≤ √(Long.Max/thr), so for ANY pair of guarded rows
    // na·nb·thr ≤ Long.Max and (Cauchy–Schwarz) dot²·thr ≤ na·nb·thr ≤
    // Long.Max — the same no-overflow guarantee the old global-max
    // pre-pass proved, one full pass cheaper, still failing loudly on the
    // first violating row (assert_true). Bench rows are guarded on the
    // driver from the collected values (they no longer flow through the
    // scoring filter).
    val thr = math.max(thrNum, thrDen).toDouble
    bench.foreach { case (id, v, _) =>
      val m = v.map(math.abs).foldLeft(0L)(math.max)
      val d = v.length.toDouble
      val mMax = math.pow(Long.MaxValue.toDouble / (d * d * thr), 0.25)
      require(d == 0 || m <= mMax,
        s"decontaminateSemantic: bench vec $id magnitude $m exceeds " +
        f"int64-safe bound $mMax%.0f for dim ${v.length}")
    }
    // coalesce(…, true): the magnitude comparison is NULL exactly when
    // array_max is NULL — qv NULL, empty, or ALL-NULL elements (array_max
    // skips null entries) — and each of those rows scores 0 and drops,
    // the pre-r21 behavior (ADVICE r21: a bare disjunct chain left the
    // all-NULL-element case throwing a misleading overflow error). Only a
    // NON-NULL magnitude beyond the bound is a defect worth failing on.
    val rowGuard = assert_true(
      coalesce(
        array_max(transform(col("qv"), x => abs(x))).cast("double") <=
          pow(lit(Long.MaxValue.toDouble) /
            (size(col("qv")).cast("double") * size(col("qv")) * lit(thr)),
            lit(0.25)),
        lit(true)),
      concat(lit("decontaminateSemantic: quantized magnitude of vec_id "),
        col("vec_id").cast("string"),
        lit(" exceeds the int64-safe bound for its dim")))
    // Scoring evaluates every expensive subexpression ONCE per row: qv in
    // its own projection (CollapseProject keeps multi-referenced non-cheap
    // aliases separate), na likewise, and each bench dot is computed once
    // and bound to a lambda variable (the old per-bench `when` referenced
    // the dot fold three times and na once — ~21 interpreted HOF folds per
    // row; this shape runs |bench|+2 folds).
    val na = aggregate(zip_with(col("qv"), col("qv"), _ * _),
      lit(0L), (acc, x) => acc + x)
    val benchVecs = array(bench.map { case (_, bv, _) =>
      array(bv.map(lit): _*) }: _*)
    val benchNorms = array(bench.map { case (_, _, nb) => lit(nb) }: _*)
    val hits = aggregate(
      zip_with(benchVecs, benchNorms, (bv, nb) =>
        // bind the dot product once: the inner aggregate's lambda variable
        // carries it through the 3-reference threshold test
        aggregate(
          array(aggregate(zip_with(col("qv"), bv, _ * _),
            lit(0L), (acc, x) => acc + x)),
          lit(0L),
          (acc, dot) => acc + when(
            dot > 0 && dot * dot * lit(thrDen) >= col("na") * nb * lit(thrNum),
            1L).otherwise(0L))),
      lit(0L), (acc, x) => acc + x)
    q.where(col("vec_id") >= benchMaxVecId)
      .select(col("vec_id"), col("qv"), na.as("na"))
      .select(col("vec_id"),
        when(rowGuard.isNull, hits).as("n_bench_hits"))
      .where(col("n_bench_hits") > 0)
      .orderBy("vec_id")
  }

  /** Deterministic epoch shuffle: a reproducible global permutation of the
    * corpus — position = rank in (multiplicative-hash(doc_id + epoch),
    * doc_id) order. Each epoch number yields a different permutation;
    * reruns and other engines yield the same one (no RNG, no partition
    * order in the result). The rank comes from [[Rank.groupRanks]] with no
    * group — the distributed global row_number, so a 100 TB corpus is
    * range-partitioned by the hash and never funnels through one reducer.
    * Same mod-P-first arithmetic as [[Sampling.hashBucket]] (ANSI-safe),
    * including its sign-safe pmod first reduction — a negative doc_id would
    * otherwise order BEFORE every legitimate row (negative hash) silently. */
  def shuffleEpoch(documents: DataFrame, epoch: Int = 1): DataFrame = {
    val h = pmod(col("doc_id") + lit(epoch.toLong), lit(Sampling.P)) *
      Sampling.A % Sampling.P
    Rank.groupRanks(
        documents.select(col("doc_id"), h.as("_h")),
        Seq.empty, Seq(col("_h"), col("doc_id")))
      .select(col("rank").as("pos"), col("doc_id"))
      .orderBy("pos")
  }

  /** Duplicate-span census — the decision input of exact substring dedup
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better"): per document, how many of its distinct `spanTokens`-token
    * spans also occur in at least one OTHER document. The full suffix-array
    * construction the paper uses is a single-machine structure; the
    * Spark-first equivalent is the shingle inverted index the near-dup
    * family already builds — spans are exact token n-grams, a span is
    * "duplicated" when its document frequency is ≥ 2, and the per-doc
    * duplicated fraction (`n_dup_spans / n_spans`) is what a removal pass
    * thresholds on. Documents shorter than `spanTokens` collapse to one
    * whole-document span (the `shingles` contract), so exact full-document
    * duplicates still count each other.
    *
    * Scale shape: distinct spans per doc map-side, ONE shuffle on span (a
    * whole-partition window counts each span's df in place — the original
    * three-consumer formulation of span-df + per-doc + semi-join
    * re-tokenized the corpus three times, the same smell as minhashLsh's
    * r04 regression), one rollup shuffle on doc_id. Shuffle volume is the
    * span stream, the same bound as [[Dedup.sharedGramPairs]]' index. */
  def duplicateSpans(documents: DataFrame, spanTokens: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Spread.toCores(documents)
      .select(col("doc_id"),
        explode(array_distinct(
          Natives.shingles(tokens(col("text")), spanTokens)))
          .as("span"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("span")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("df") >= 2, true)).as("n_dup_spans"))
      .orderBy("doc_id")
  }

  /** Source-mixture sampling weights — the knob a pretraining mixture
    * designer sets from the corpus census: per source, its token share and
    * the sampling weight that would equalize shares (weight_micro > 10⁶ ⇒
    * upsample). All integer micro-unit arithmetic (`x·10⁶ div y`), exact in
    * any engine; sources with zero tokens get NULL weight rather than a
    * division error. The per-source census is one aggregate; the scalar
    * totals broadcast back as a 1-row cross join (the revenueShare
    * pattern). Range contract: exact up to ~9·10¹² total tokens
    * (10⁶ · total must fit int64) — past that ANSI mode fails loudly
    * rather than wrapping. */
  def mixtureWeights(documents: DataFrame): DataFrame = {
    val per = documents.groupBy("source")
      .agg(sum(size(tokens(col("text")))).cast("long").as("n_tokens"))
    val tot = per.agg(sum("n_tokens").cast("long").as("total"),
      count(lit(1)).as("n_sources"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        expr("n_tokens * 1000000L div total").as("share_micro"),
        when(col("n_tokens") === 0, lit(null))
          .otherwise(expr("total * 1000000L div (n_sources * n_tokens)"))
          .as("weight_micro"))
      .orderBy("source")
  }

  /** Hard-negative mining — the other half of contrastive data alongside
    * [[contrastivePairs]]: pairs that COLLIDE in an LSH band (lexically
    * close enough to fool a hash bucket) yet have low true Jaccard.
    * Random in-batch negatives are easy; these bucket-collided-but-
    * dissimilar pairs are the ones that actually move an embedding model.
    * SINGLE-SLOT bands (bands = k, one minhash row per band — deliberately
    * loose buckets: precision is the enemy here, a collision structure
    * tight enough for dedup only ever surfaces near-duplicates) emit
    * candidates; the miner keeps `n_common · den ≤ n_union`
    * (⟺ jaccard ≤ 1/den).
    *
    * The loose bands make this the candidate-volume cost leader of the
    * near-dup family, so the expensive exact verify (two joins back to
    * token arrays + set intersect) is gated behind a signature-slot
    * ESTIMATE prefilter that costs nothing extra: with single-slot bands,
    * a pair's band-collision multiplicity IS its matching-slot count
    * ([[Dedup.minhashJaccardEstimate]]'s statistic, E[n_match/k] = J,
    * restricted to bands whose buckets survive the [[Dedup.MaxBucket]]
    * cap — capped bands under-count, which only sends a pair ONWARD to
    * the exact verify, never drops it wrongly). So the pair `distinct`
    * becomes a `groupBy.count`, the same shuffle, and the estimate gates
    * BOTH sides of the mining band: pairs with
    * `n_match · estDen > k · estNum` (estimate > estNum/estDen, default
    * 3/4 — far above the 1/den mining band, so it only sheds obvious
    * near-duplicates) and pairs with `n_match < minMatch` (default 2:
    * a single colliding slot is statistically indistinguishable from a
    * random pair — E[n_match] ≥ 1 collisions happen at J ≈ 1/k — and a
    * negative that easy teaches an embedding model nothing; requiring two
    * slots sets an estimate floor of 2/k and cuts the exact-verify volume
    * ~7× at sf0.1) never touch the token arrays. Both engines count
    * collisions over the same filtered buckets, so the prefilter is
    * exactly replayable by the oracle.
    *
    * Verify-side economies, shared with nothing: token arrays are
    * pre-deduplicated once at the persist (set semantics anyway) and
    * `n_union` is `n_a + n_b − n_common` — no materialized union array. */
  def hardNegatives(documents: DataFrame, den: Int = 2, estNum: Int = 3,
      estDen: Int = 4, minMatch: Int = 2): DataFrame = {
    // den encodes "jaccard <= 1/den": zero keeps EVERY candidate silently;
    // estDen = 0 likewise disables the estimate gate; minMatch < 1 admits
    // statistically-random single-slot collisions
    require(den >= 1 && estDen >= 1 && estNum >= 0 && minMatch >= 1,
      s"hardNegatives: bad params den=$den est=$estNum/$estDen minMatch=$minMatch")
    val k = 32
    // one persisted projection feeds the band rows (sig) and both exact-
    // verify sides (toks_d, n_toks); Spread first — a single-file scan
    // would tokenize and minhash the whole corpus on one core
    val base = Spread.toCores(documents)
      // tokenize ONCE per row (layered projection): the signature and the
      // distinct-token verify side previously each re-ran the regex split
      .select(col("doc_id"), tokens(col("text")).as("_t"))
      .select(
        col("doc_id"),
        Natives.minhashSig(col("_t"), 3, k).as("sig"),
        array_distinct(col("_t")).as("toks_d"))
      .withColumn("n_toks", size(col("toks_d")))
      .transform(Materialize.once)
    val bandRows = base.select(col("doc_id"),
      posexplode(minhash_bands(col("sig"), k, 1, k))
        .as(Seq("band_idx", "band_hash")))
    val buckets = bandRows.groupBy("band_idx", "band_hash")
      .agg(collect_list("doc_id").as("ids"))
      .where(size(col("ids")).between(2, Dedup.MaxBucket))
    // multiplicity preserved (no content dedupe): the per-pair count is
    // the estimate
    val cand = Dedup.bucketPairs(buckets, "ids")
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as("n_match"))
      .where(col("n_match") >= minMatch
        && col("n_match") * estDen <= lit(k.toLong) * estNum)
      .select("doc_a", "doc_b")
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("toks_d").as("toks_a"),
        col("n_toks").as("n_a")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("toks_d").as("toks_b"),
        col("n_toks").as("n_b")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("toks_a"), col("toks_b"))))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("n_a") + col("n_b") - col("n_common")).as("n_union"))
      .where(col("n_common") * den <= col("n_union"))
      .orderBy("doc_a", "doc_b")
  }

  /** Duplicate-span REMOVAL — the surgery [[duplicateSpans]] is the census
    * for (Lee et al. 2021's "dedup the substring, keep the document"): every
    * token position covered by an occurrence of a cross-document span
    * (df ≥ 2, the census's definition) is dropped, and the document is
    * reassembled from the surviving tokens in order. Documents shorter than
    * `spanTokens` collapse to one whole-document span (the `shingles`
    * contract), so exact short duplicates strip to empty.
    *
    * Scale shape: positions ride the span stream (posexplode — no second
    * tokenize), the df filter is one span-keyed shuffle, coverage expands
    * each duplicated occurrence by ≤ `spanTokens` rows, and reassembly is
    * an in-array sort per doc (collect_list + array_sort — never a global
    * window). The token projection feeds three consumers on different keys,
    * so it persists once, the minhashLsh discipline. */
  def stripDuplicateSpans(documents: DataFrame, spanTokens: Int = 8): DataFrame = {
    val toksDf = Spread.toCores(documents)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .transform(Materialize.once)
    val spans = toksDf.select(col("doc_id"),
      least(lit(spanTokens), size(col("toks"))).as("span_len"),
      posexplode(Natives.shingles(col("toks"), spanTokens))
        .as(Seq("pos", "span")))
    val dup = spans.select("doc_id", "span").distinct()
      .groupBy("span").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2).select("span")
    val covered = spans.join(dup, Seq("span"), "left_semi")
      // empty docs shingle to one "" span with span_len 0; guard the
      // sequence (start > stop would generate a DESCENDING range)
      .where(col("span_len") > 0)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + col("span_len") - 1)).as("p"))
      .distinct()
    val aggs = toksDf
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "tok")))
      .join(covered.withColumn("c", lit(1)), Seq("doc_id", "p"), "left")
      .groupBy("doc_id")
      .agg(count(col("c")).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("c").isNull,
            struct(col("p"), col("tok"))))),
          s => s.getField("tok"))).as("clean_text"))
    toksDf.select(col("doc_id"), size(col("toks")).as("n_tokens"))
      .join(aggs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Length-bucketed batch assignment — the padding-efficiency discipline
    * of sequence batching: documents are banded by token length (explicit
    * power-of-two thresholds — no float log on the data path), and within
    * each band, batches of `batchSize` documents are cut in stable doc_id
    * order. Batching similar lengths together is what keeps a training
    * step's padding waste bounded; the alternative (random batches) pads
    * every sequence to the batch max.
    *
    * Scale shape: the within-band order comes from [[Rank.groupRanks]]'
    * distributed two-pass — a band can hold a constant fraction of the
    * corpus (most web docs are mid-length), exactly the case where a
    * plain `Window.partitionBy(band)` funnels it through one reducer. */
  def lengthBatches(documents: DataFrame, batchSize: Int = 8): DataFrame = {
    // batchSize = 0 → `div 0` → silent NULL batch_idx on every row
    require(batchSize >= 1, s"lengthBatches: batchSize must be >= 1, got $batchSize")
    val counted = documents.select(col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"))
    val banded = counted.withColumn("band",
      when(col("n_tokens") <= 16, 0)
        .when(col("n_tokens") <= 32, 1)
        .when(col("n_tokens") <= 64, 2)
        .when(col("n_tokens") <= 128, 3)
        .when(col("n_tokens") <= 256, 4)
        .otherwise(5))
    Rank.groupRanks(banded, Seq("band"), Seq(col("doc_id")))
      .select(col("doc_id"), col("n_tokens"), col("band"),
        expr(s"(rank - 1) div $batchSize").cast("int").as("batch_idx"))
      .orderBy("doc_id")
  }

  /** End-to-end retention funnel: the whole cleaning pipeline run as ONE
    * composition — exact dedup → shared-gram near-dup survivors →
    * benchmark decontamination → quality filter — reporting how many
    * documents survive each stage. This is the first number a corpus owner
    * asks of a cleaning pipeline ("where did my data go?") and the
    * integration test that the stages compose: each stage consumes the
    * PREVIOUS stage's survivors, not the raw corpus.
    *
    * Shape at 100 TB: every stage is one of the already-scale-shaped
    * operators (bucketed pair generation, label-propagation components,
    * broadcast bench shingles, row-local quality metrics); the funnel adds
    * only semi/anti joins on doc_id — the key the pipeline shuffles on
    * anyway — and per-stage single-row counts. Stage frames persist
    * because each feeds both its successor and its own count. */
  def retentionFunnel(documents: DataFrame): DataFrame = {
    // EAGER stage-frame materialization (round 22), not lazy persist: every
    // stage frame feeds its successor AND its own census count, and all of
    // those first execute inside the ONE final union query — concurrent
    // root stages racing a lazy cache fill recompute the stage frame
    // (256×-probe-measured: a duplicated d3 evaluation re-ran
    // decontaminate's gram explode, ~470 of ~12,500 taskSec). The eager
    // job fills each frame's blocks in construction order; consumers only
    // read. (d1 was fill-before-use already — sharedGramPairs' eager
    // checkpoint computes it first — but gets the same treatment so the
    // discipline is uniform.)
    val d1 = documents.join(
        Dedup.exact(documents).select(col("keep_doc_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .transform(Materialize.once)
    val d2 = d1.join(
        Dedup.survivors(d1, Dedup.sharedGramPairs(d1)).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .transform(Materialize.once)
    // docs below the bench boundary ARE the benchmark — they leave the
    // training corpus here, alongside anything sharing shingles with them
    val d3 = d2.where(col("doc_id") >= 5)
      .join(decontaminate(d2).select("doc_id"), Seq("doc_id"), "left_anti")
      .transform(Materialize.once)
    val d4 = qualityFilter(d3).where(col("keep") === 1)
    val stages: Seq[(String, DataFrame)] = Seq(
      "0_raw" -> documents,
      "1_exact_dedup" -> d1,
      "2_near_dedup" -> d2,
      "3_decontaminated" -> d3,
      "4_quality" -> d4)
    stages.map { case (name, df) =>
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(name).as("stage"), col("n_docs"))
    }.reduce(_ unionAll _).orderBy("stage")
  }
}
