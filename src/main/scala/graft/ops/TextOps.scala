package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.plans.Natives

/** Text-analysis operators (SURVEY.md §2.6): token stats, quality scoring,
  * language-ID heuristic, document fingerprinting, corpus doc-frequency.
  * All per-document work is pure column expressions (whole-stage codegen);
  * only docFrequency shuffles (one explode + groupBy).
  */
object TextOps {

  /** Per-document token statistics: token count, distinct-token count,
    * char count, mean token length, type-token ratio. */
  def tokenStats(documents: DataFrame): DataFrame = {
    // tokenize ONCE per row: a layered projection keeps the token array an
    // attribute (CollapseProject leaves non-cheap multi-referenced aliases
    // alone), where inlining `tokens(text)` at each use re-ran the regex
    // split per expression
    documents
      .select(col("doc_id"), col("text"), tokens(col("text")).as("_toks"))
      .select(
        col("doc_id"),
        size(col("_toks")).as("n_tokens"),
        size(array_distinct(col("_toks"))).as("n_distinct_tokens"),
        // BPE-style pre-tokenization count: letter runs, digit runs, and
        // individual symbols — the unit a subword tokenizer would split on
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
          .as("n_subword_tokens"),
        length(col("text")).as("n_chars"))
      // exact double division (not rounded): IEEE division of two ints is
      // bit-identical in any engine, so the oracle can compare it raw.
      // Zero-token docs yield NULL — under ANSI mode an unguarded /0 THROWS
      // and one empty doc would kill a 100 TB job (caught by the
      // null-robustness spec).
      .withColumn("ttr", safeRatio(col("n_distinct_tokens"), col("n_tokens")))
      .orderBy("doc_id")
  }

  /** a/b as double, NULL when b = 0 — ANSI mode turns integer-backed /0
    * into a job-killing exception, and IEEE inf would hash-mismatch any
    * oracle anyway. */
  private def safeRatio(a: Column, b: Column): Column =
    when(b === 0, lit(null)).otherwise(a.cast("double") / b)

  /** Heuristic quality score in [0,1]: blends length fit, stopword ratio and
    * alphabetic purity — the shape of a C4/Gopher-style quality filter,
    * deterministic and cheap enough to run inline at ingest. */
  def qualityScore(documents: DataFrame): DataFrame = {
    val stop = array(Seq("the", "a", "and", "of", "to", "in", "is", "on").map(lit): _*)
    // tokenize once per row (the tokenStats layering discipline)
    documents
      .select(col("doc_id"), col("text"), tokens(col("text")).as("_toks"))
      .select(col("doc_id"), size(col("_toks")).as("n_tokens"),
        size(array_intersect_dup(col("_toks"), stop)).as("n_stop"),
        length(regexp_replace(col("text"), "[a-z ]", "")).as("n_nonalpha"),
        length(col("text")).as("n_chars"))
      .withColumn("stop_ratio", safeRatio(col("n_stop"), col("n_tokens")))
      .withColumn("len_ok",
        (col("n_tokens") >= 10 && col("n_tokens") <= 1000).cast("int"))
      .withColumn("alpha_ratio",
        lit(1.0) - safeRatio(col("n_nonalpha"), col("n_chars")))
      .select("doc_id", "n_tokens", "n_stop", "stop_ratio", "len_ok", "alpha_ratio")
      .orderBy("doc_id")
  }

  /** Count stopword OCCURRENCES (not set intersection): filter keeps
    * duplicates, so "the ... the" counts twice. */
  private def array_intersect_dup(toks: Column, stop: Column): Column =
    filter(toks, t => array_contains(stop, t))

  /** Language-ID by marker-token voting: per candidate language, count hits
    * of a tiny high-frequency marker list; argmax wins (ties → lexicographic
    * first, deterministic). An n-gram-frequency heuristic in miniature — on a
    * real corpus the marker lists would be learned; the plumbing (per-row
    * scoring, argmax via array_max over (score, lang) structs) is the real
    * operator. */
  def langId(documents: DataFrame): DataFrame = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "de" -> Seq("der", "die", "das", "und", "ist"),
      "en" -> Seq("the", "and", "is", "of", "to"),
      "es" -> Seq("el", "la", "los", "y", "es"),
      "fr" -> Seq("le", "la", "les", "et", "est"),
      "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))
    // tokenize once per row: the five per-language marker filters all read
    // the same token-array attribute (the tokenStats layering discipline)
    val scored = markers.map { case (lang, words) =>
      val hits = size(filter(col("_toks"),
        t => array_contains(array(words.map(lit): _*), t)))
      // negated score so an ASC struct sort puts (highest score, smallest
      // lang) first — a deterministic argmax with lexicographic tie-break
      struct((-hits).as("neg_score"), lit(lang).as("lang"))
    }
    documents
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("_toks"))
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        sort_array(array(scored: _*)).getItem(0).getField("lang")
          .as("predicted_lang"))
      .orderBy("doc_id")
  }

  /** Rolling-hash document fingerprint: docs with equal prints are
    * byte-identical token streams (mod collisions). Uses the polynomial
    * dual-residue roll ([[graft.functions.GraftFunctions.doc_fingerprint_poly]])
    * — plain integer arithmetic a DuckDB oracle recomputes exactly. */
  def fingerprint(documents: DataFrame): DataFrame = {
    documents
      // native fused fold (graft.plans.PolyFingerprint) — bit-identical to
      // the HOF composition doc_fingerprint_poly, without its per-char
      // UTF8String array
      .select(col("doc_id"),
        Natives.polyFp(concat_ws(" ", tokens(col("text")))).as("fp"))
      .orderBy("doc_id")
  }

  /** Scalar string-function breadth (SURVEY §2.5): canonical normalization
    * (trim + whitespace squeeze + punctuation translate + padding) and the
    * edit distance between raw and normalized text — each a codegen'd
    * built-in, no UDFs. */
  def normalize(documents: DataFrame): DataFrame = {
    val squeezed = regexp_replace(trim(col("text")), "\\s+", " ")
    val normed = translate(squeezed, ",.;:!?", "      ")
    documents
      .select(col("doc_id"),
        lpad(col("doc_id").cast("string"), 8, "0").as("padded_id"),
        substring(col("text"), 1, 20).as("head20"),
        length(col("text")).as("raw_len"),
        length(normed).as("norm_len"),
        levenshtein(substring(col("text"), 1, 40),
          reverse(substring(col("text"), 1, 40))).as("palindrome_dist"))
      .orderBy("doc_id")
  }

  /** Gopher/C4-style repetition stats: the fraction of duplicated word
    * n-grams per document (`1 − distinct/total`) for 2- and 3-grams — the
    * repetition filter a quality pipeline applies after [[qualityScore]].
    * Per-row column math; the ratios are exact IEEE divisions of two
    * ints, identical in any engine. [[Spread.toCores]] first: the work is
    * ~ms per row (four shingle constructions + two array_distincts), so a
    * single-split scan runs the whole corpus serial on one core — found
    * live at 128× (640 k docs: >25 min serial, the r12/r15 single-split
    * defect class), not a theoretical risk. */
  def repetitionStats(documents: DataFrame): DataFrame = {
    // fused native shingles + layered projections so each gram array is
    // built ONCE per row: the previous single-projection form evaluated
    // the interpreted HOF shingle chain four times per row (n_2grams +
    // both sides of each dup ratio). CollapseProject keeps the layers
    // separate (non-cheap, multi-referenced aliases), so g2/g3 are plain
    // attribute reads in the ratio projection. Same expressions, same
    // output, fewer evaluations.
    Spread.toCores(documents)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        Natives.shingles(col("toks"), 2).as("g2"),
        Natives.shingles(col("toks"), 3).as("g3"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("g2")).as("n_2grams"),
        (lit(1.0) - size(array_distinct(col("g2"))).cast("double")
          / size(col("g2"))).as("dup_2gram_ratio"),
        (lit(1.0) - size(array_distinct(col("g3"))).cast("double")
          / size(col("g3"))).as("dup_3gram_ratio"))
      .orderBy("doc_id")
  }

  /** Lateral position-explode (`posexplode`): one row per (doc, token
    * position) over a bounded doc slice — the order-preserving flatten a
    * sequence-labeling pipeline starts from. */
  def tokenPositions(documents: DataFrame, maxDocId: Long = 50): DataFrame =
    documents
      .where(col("doc_id") < maxDocId)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "token")
      .orderBy("doc_id", "pos")

  /** TF-IDF: per (doc, token) term frequency joined with corpus document
    * frequency; idf = ln((N+1)/(df+1)) (smoothed). The explode shuffles
    * once for tf and once for df — both partial-aggregated map-side. N is
    * computed IN-PLAN (a broadcast one-row count aggregate crossed onto the
    * result) rather than an eager driver-side count() — no extra eager scan
    * per invocation, and the whole computation stays one lazy plan. Scores
    * round to 6 decimals: JVM Math.log and libm ln legitimately differ in
    * the last ulp, so raw doubles cannot oracle-match. */
  def tfIdf(documents: DataFrame, minDf: Long = 2): DataFrame = {
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    // df derived FROM tf (tf has one row per (doc, token), so count-per-
    // token over tf IS the document frequency): the two join sides now
    // share one canonical subplan, so ReuseExchange materializes the
    // tokenize+explode+partial-agg scan ONCE where the old separate
    // array_distinct branch re-tokenized the corpus a second time. The
    // df exchange stays small either way (map-side partial agg reduces it
    // to distinct tokens per partition). Still one lazy plan, no persist.
    //
    // count(when(tf > 0, 1)), NOT count(1) — and the difference is
    // load-bearing (round 22): a df aggregate that ignores `tf` lets
    // column pruning strip the count from ITS copy of the tf subplan,
    // the two copies stop canonicalizing equal below the (doc_id, token)
    // exchange, reuse misses, and the full query re-tokenizes the corpus
    // a second time. (The r21 single-scan probe ran under count(), which
    // prunes `tf` from BOTH sides and hid this — guide §1.4's exact
    // count()-vs-noop warning.) tf ≥ 1 by construction (it counts
    // existing rows), so the value is identical; referencing it keeps
    // the shared subplan shared. Pinned by the Round22Spec
    // input-row-accounting test under a noop write.
    val df = tf
      .groupBy("token")
      .agg(count(when(col("tf") > 0, lit(1))).as("df"))
      .where(col("df") >= minDf)
    tf.join(df, "token")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") *
          log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6)
          .as("tf_idf"))
      .orderBy("doc_id", "token")
  }

  /** Corpus-wide n-gram frequency: top word bigrams with counts — the
    * co-occurrence statistic behind phrase mining / tokenizer-merge rules.
    * Shingling is per-row; only (gram, partial-count) rows shuffle. */
  def ngramCounts(documents: DataFrame, n: Int = 2, minCount: Long = 3): DataFrame = {
    documents
      .select(explode(
        Natives.shingles(tokens(col("text")), n)).as("gram"))
      .where(size(split(col("gram"), " ")) === n)  // drop short-doc collapse rows
      .groupBy("gram")
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .orderBy("gram")
  }

  /** BPE merge-pair census — the statistic one iteration of byte-pair-
    * encoding tokenizer training maximizes: corpus-wide frequency of every
    * adjacent character pair inside words, top `topK` as merge candidates.
    * Pair extraction is a per-row generator (no shuffle until the tiny
    * (pair, partial-count) rows), and the top-k plans as
    * TakeOrderedAndProject — at 100 TB the exchange carries one row per
    * distinct pair per partition, not the corpus. Ties break on the pair
    * string so the candidate list is deterministic in any engine. */
  def bpePairCensus(documents: DataFrame, topK: Int = 20): DataFrame =
    Spread.toCores(documents)
      .select(explode(tokens(col("text"))).as("word"))
      .where(length(col("word")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => call_function("substring", col("word"), i, lit(2)))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)

  /** Left-to-right non-overlapping BPE merge of the pair (a, b) over a
    * `syms` symbol array: fold each symbol onto the building list, fusing
    * when the list's last element is `a` and the incoming symbol is `b`.
    * A fused symbol never immediately re-fuses (its value is `ab`, not
    * `a`), which is exactly the standard BPE apply order. */
  private def mergeSyms(a: String, b: String): Column =
    when(size(col("syms")) < 2, col("syms")).otherwise(
      aggregate(
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        array(element_at(col("syms"), 1)),
        (acc, s) => when(element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s)))))

  /** ITERATED BPE tokenizer training — `rounds` full merge iterations, not
    * just the single census [[bpePairCensus]] reports: each round counts
    * adjacent symbol pairs over the word-frequency dict (the classic BPE
    * training corpus representation — identical words collapse once with
    * their multiplicity), picks the most frequent pair (ties on the pair
    * strings), APPLIES the merge to every word, and re-counts. Output is
    * the evolving candidate list: top `topK` pairs per round with the
    * round's chosen merge always at rank 1 — later rounds see fused
    * symbols (e.g. round 2 pairs may span a round-1 merge).
    *
    * Scale shape: the dict aggregate is one shuffle on word; each round's
    * census shuffles (pair, partial-count) rows only, and the merge apply
    * is a per-row fold. The chosen pair is a 1-row driver literal per
    * round (the IVF-codebook discipline: parameter-bounded, never
    * corpus-sized); each round's dict is materialized once so round r+1
    * doesn't replay the whole merge chain. */
  def bpeMerges(documents: DataFrame, rounds: Int = 3,
      topK: Int = 5): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val dict = Spread.toCores(documents)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    var syms = dict.select(col("cnt"),
      transform(sequence(lit(1), length(col("word"))),
        i => call_function("substring", col("word"), i, lit(1))).as("syms"))
      .transform(Materialize.once)
    val rows = scala.collection.mutable.ArrayBuffer[(Int, Int, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val census = syms.where(size(col("syms")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("sym_a"),
            element_at(col("syms"), i + 1).as("sym_b")))).as("p"))
        .groupBy(col("p.sym_a").as("sym_a"), col("p.sym_b").as("sym_b"))
        .agg(sum(col("cnt")).as("n"))
      val top = census
        .orderBy(col("n").desc, col("sym_a"), col("sym_b")).limit(topK)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        rows ++= top.zipWithIndex.map { case (row, i) =>
          (r, i + 1, row.getString(0), row.getString(1), row.getLong(2)) }
        val (a, b) = (top.head.getString(0), top.head.getString(1))
        // the last round's merge would be stored and never read
        if (r < rounds)
          syms = syms.select(col("cnt"), mergeSyms(a, b).as("syms"))
            .transform(Materialize.once)
      }
      r += 1
    }
    rows.toSeq.toDF("round", "rank", "sym_a", "sym_b", "n")
      .orderBy("round", "rank")
  }

  /** Regex redaction (quality-pipeline scrub step): mask digit runs and
    * email-shaped tokens, report per-doc replacement counts. Pure per-row
    * regex work — codegen'd, no shuffle. */
  def redact(documents: DataFrame): DataFrame = {
    val emailRe = "[a-z0-9.]+@[a-z0-9.]+"
    val digitRe = "[0-9]{3,}"
    documents
      .select(col("doc_id"),
        regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          digitRe, "<NUM>").as("clean_text"),
        (size(regexp_extract_all(col("text"), lit(emailRe), lit(0)))).as("n_emails"),
        (size(regexp_extract_all(col("text"), lit(digitRe), lit(0)))).as("n_digit_runs"))
      .orderBy("doc_id")
  }

  /** Corpus document-frequency: for each token, in how many documents it
    * appears. The one genuinely distributed text op: explode distinct tokens
    * per doc (map-side dedup BEFORE the shuffle cuts volume), then count.
    * At 100 TB the same plan holds — partial aggregation keeps the explode
    * local and only (token, partial-count) rows shuffle. */
  def docFrequency(documents: DataFrame, minDf: Long = 2): DataFrame =
    documents
      .select(explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .orderBy("token")

  /** Sparse TF-IDF document similarity — the inverted-index join the dense
    * ANN path can't replace when there are no embeddings: weight each doc's
    * shingles by tf·idf, generate candidate pairs ONLY through shingles in
    * the [minDf, maxDf] band (the sharedGramPairs stop-shingle discipline —
    * a shingle contributes at most maxDf² pair rows regardless of corpus
    * size), and score candidates by cosine in the SAME banded shingle
    * space (ubiquitous shingles carry no discriminative weight; excluding
    * them from the metric is the textbook stop-token treatment).
    * Whole-token vectors would be useless here AND at scale: tf-idf
    * similarity lives in the rare-feature subspace by construction.
    *
    * Numeric design (the Ml.kmeans integer-grid discipline): the idf is
    * quantized ONCE per distinct df — `idf_milli = round(1000·ln((N+1)/
    * (df+1)))`, an integer both engines derive from the same exact (N, df)
    * pair — and every downstream sum (weights `tf·idf_milli`, norms, dots)
    * is exact int64/decimal arithmetic, so no shuffle-order-dependent
    * double sum ever reaches the threshold. The reported score is the
    * squared cosine on the micro grid, `cos2_micro = ⌊10⁶·dot²/(na·nb)⌋`
    * (integer floor division — no sqrt, no float), thresholded at
    * `round(10⁶·minScore²)`. Residual cross-engine surface: only the ≤
    * (maxDf−minDf+1) distinct `round(1000·ln(·))` sites, each a fixed
    * data-dependent value — not a per-run summation-order race — and a
    * runtime guard asserts every site sits > 1e-6 from its .5 rounding
    * boundary, so a 1-ulp libm divergence fails LOUDLY, never silently. */
  /** Guard for one idf quantization site: `1000·ln((N+1)/(df+1))` must sit
    * more than 1e-6 from its .5 rounding boundary, else a 1-ulp libm
    * difference between JDK `Math.log` and the oracle engine's libm could
    * flip `round()` at the site and diverge SILENTLY. Called per distinct
    * (N, df) pair — ≤ (maxDf−minDf+1) sites per run. */
  private[graft] def assertIdfSiteClear(nDocs: Long, dfv: Long): Unit = {
    val x = 1000d * math.log((nDocs + 1).toDouble / (dfv + 1))
    val frac = x - math.floor(x)
    require(math.abs(frac - 0.5) > 1e-6,
      s"tfidfSimilarPairs: idf site 1000*ln((N+1)/(df+1)) = $x at " +
        s"(N=$nDocs, df=$dfv) is within 1e-6 of a .5 rounding boundary " +
        "- cross-engine rounding could diverge; adjust the idf grid")
  }

  def tfidfSimilarPairs(documents: DataFrame, n: Int = 3, minDf: Long = 2,
      maxDf: Long = 100, minScore: Double = 0.1): DataFrame = {
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    // CPU-bound shingle explode: spread an under-split scan first (the
    // sharedGramPairs discipline; no-op on a real many-split scan)
    val spread = Spread.toCores(documents)
    val grams = spread.select(col("doc_id"),
      explode(Natives.shingles(tokens(col("text")), n)).as("gram"))
    // ONE tokenize+shingle pass, not two: df is derivable from tf (tf has
    // exactly one row per (doc, gram), so count-per-gram over tf IS the
    // document frequency) — the old separate distinct+groupBy branch
    // re-ran the full shingle explode a second time. Checkpoint tf so the
    // df aggregate and the weight join below read materialized rows.
    val tf = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("tf"))
      .transform(Materialize.once)
    val df = tf.groupBy("gram").agg(count(lit(1)).as("df"))
      .where(col("df").between(minDf, maxDf))
    // idf on the milli grid: N and df are exact integers, so both engines
    // quantize the same transcendental at the same ≤ (maxDf−minDf+1) sites;
    // weights tf·idf_milli are int64 from here on
    val w = tf.join(df, "gram").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("gram"),
        (col("tf") * round(lit(1000d) *
            log((col("n_docs") + 1).cast("double") / (col("df") + 1)))
          .cast("long")).as("wq"),
        // carried for the boundary guard below (pruned from every
        // downstream join; costs 16 B/row in the checkpoint)
        col("df"), col("n_docs"))
      .transform(Materialize.once) // read three times: norms + both join sides
    // idf-grid boundary guard (engine independence of the milli
    // quantization): each distinct 1000·ln((N+1)/(df+1)) site must sit
    // clear of the .5 rounding boundary, else a 1-ulp libm difference
    // between JDK Math.log and the oracle engine's libm could flip
    // round() at that site and diverge silently. ≤ (maxDf−minDf+1)
    // sites — checked exactly, loudly, on every run (a tiny driver job
    // over the checkpointed weights).
    w.select(col("n_docs"), col("df")).distinct().collect()
      .foreach(r => assertIdfSiteClear(r.getLong(0), r.getLong(1)))
    // loud int64/decimal(38) overflow guard (the semDedup discipline): all
    // sums are bounded by g·m² (g = max banded grams in a doc, m = max
    // weight), and the squared-cosine numerator dot²·10⁶ by (g·m²)²·10⁶ —
    // keep g·m² ≤ 3e15 so the sums stay in int64 and the numerator within
    // 37 decimal digits. One k-bounded aggregate over the checkpointed w.
    val bounds = w.groupBy("doc_id")
      .agg(count(lit(1)).as("g"), max(abs(col("wq"))).as("m"))
      // the guard product runs in double (53-bit mantissa ≫ the 3e15
      // threshold's 52 bits of headroom) so the GUARD itself cannot wrap
      .agg(max(col("g").cast("double") * col("m") * col("m")).as("gm2")).head()
    if (!bounds.isNullAt(0))
      require(bounds.getDouble(0) <= 3.0e15,
        s"tfidfSimilarPairs: g·m² = ${bounds.getDouble(0)} exceeds the " +
          "int64/decimal(38)-safe bound 3e15 — shrink the idf grid")
    val norms = w.groupBy("doc_id").agg(sum(col("wq") * col("wq")).as("n2"))
    val minScore2Micro = math.round(minScore * minScore * 1e6)
    w.select(col("gram"), col("doc_id").as("doc_a"), col("wq").as("wa"))
      .join(w.select(col("gram"), col("doc_id").as("doc_b"), col("wq").as("wb")),
        "gram")
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("wa") * col("wb")).as("dot"))
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("nb")), "doc_b")
      // zero-norm docs (every banded gram at idf 0) can't score: drop before
      // the division rather than let ⌊x/0⌋ produce engine-specific NULLs
      .where(col("na") > 0 && col("nb") > 0)
      .select(col("doc_a"), col("doc_b"),
        // exact integer squared cosine on the micro grid: dot² ≤ (3e15)²
        // needs decimal(38,0) (int64 tops out at 9.2e18); DIV floors, and
        // the DuckDB oracle replays the same arithmetic in int128
        expr("CAST(CAST(dot AS DECIMAL(38,0)) * dot * 1000000 DIV " +
          "(CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)").as("cos2_micro"))
      .where(col("cos2_micro") >= minScore2Micro)
      .orderBy("doc_a", "doc_b")
  }

  /** Per-doc Shannon entropy over the token distribution — the
    * perplexity-proxy signal quality pipelines threshold on (low-entropy ≈
    * repetitive/templated text). Algebraic form `ln N − Σ n·ln n / N` over
    * integer counts, so the only float work is a fixed-shape expression
    * both engines evaluate identically (rounded to 6 for summation-order
    * noise). Explode + two integer aggregations — partial agg keeps the
    * (doc, token) shuffle at distinct-token volume. */
  def tokenEntropy(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("n"))
      .groupBy("doc_id")
      .agg(sum("n").as("n_tokens"),
        sum(col("n").cast("double") * log(col("n").cast("double"))).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        round(log(col("n_tokens").cast("double"))
          - col("s") / col("n_tokens").cast("double"), 6).as("entropy"))
      .orderBy("doc_id")

  /** Vocabulary build + per-document OOV coverage — the tokenizer-prep
    * step of a training pipeline: the top-`vocabSize` tokens by corpus
    * frequency (ties broken by token, so the vocabulary is deterministic)
    * become the vocabulary; each document reports how many of its tokens
    * the vocabulary covers.
    *
    * Scale: pass 1 is a partial-aggregated token count whose top-V is a
    * TakeOrdered (V rows, never a global sort); pass 2 ships the vocabulary
    * to every row as ONE broadcast array and scores each document with
    * per-row array math — the corpus is never exploded or shuffled for
    * scoring. Zero-token docs report (0, 0) rather than disappearing. */
  /** Corpus-frequency rarity score + head/middle/tail bucketing — the
    * frequency-based quality screen of the CCNet lineage (Wenzek et al.
    * 2020 bucket documents by LM score into head/middle/tail; the
    * log-probability is engine-variant float, so this uses the exact
    * monotone proxy that predates it: corpus-frequency RANKS). Every token
    * gets a deterministic rarity rank (1 = most frequent; ties break on
    * the token), each document reports its token count and rank sum as
    * exact integers, the mean rank in integer micro-units (`div`, exact in
    * both engines), and documents land in terciles 1/2/3 (head = common
    * vocabulary, tail = rare-token-heavy — the usual noise suspects).
    *
    * Scale shape: both ranking passes are [[Rank.groupRanks]]' distributed
    * two-pass (no single-reducer window over the vocabulary OR the corpus);
    * the token→rank join shuffles on the token like any frequency join.
    * Zero-token documents have no tokens to rank and are absent, like
    * [[docFrequency]]. */
  def tokenRarity(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val ranked = Rank.groupRanks(counts, Seq.empty,
        Seq(col("c").desc, col("tok")))
      .select(col("tok"), col("rank"))
    val scored = toks.join(ranked, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("rank").as("rank_sum"))
      .withColumn("mean_rank_micro",
        expr("rank_sum * 1000000 div n_toks"))
    Rank.groupRanks(scored, Seq.empty,
        Seq(col("mean_rank_micro"), col("doc_id")))
      .withColumn("bucket", Rank.ntileOf(col("rank"), col("n"), 3))
      .select("doc_id", "n_toks", "rank_sum", "mean_rank_micro", "bucket")
      .orderBy("doc_id")
  }

  def vocabCoverage(documents: DataFrame, vocabSize: Int = 10): DataFrame = {
    val vocab = documents
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(vocabSize)
      .agg(collect_list("tok").as("_vocab"))
    // tokenize once per row (the tokenStats layering discipline)
    documents
      .select(col("doc_id"), tokens(col("text")).as("_toks"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        size(col("_toks")).as("n_tokens"),
        size(filter(col("_toks"), t => array_contains(col("_vocab"), t)))
          .as("n_in_vocab"))
      .orderBy("doc_id")
  }

  /** Okapi BM25 retrieval — the inverted-index ranking function every text
    * search stack (Lucene/Elasticsearch, SQL full-text) runs: score(q, d) =
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with the
    * +1-smoothed idf. The query is derived from the corpus itself so the
    * operator is input-agnostic: the terms at document-frequency ranks
    * 11–15 — frequent enough to retrieve, below the stop-word head.
    *
    * Cross-engine determinism: each per-term score is rounded to integer
    * MICRO-units before the per-document sum, so the only float math is a
    * fixed-shape scalar expression (identical IEEE op order on both
    * engines — the text_tfidf round-6 discipline); the sum, the ranking,
    * and the tie-break (score desc, doc_id) are then pure integer order.
    *
    * Scale shape: df and tf are explode+groupBy aggregates (corpus-linear,
    * map-side combine); the query-term table is ≤ 15 rows (TakeOrdered,
    * then broadcast); per-doc candidates are only docs containing a query
    * term; top-k is a distributed TakeOrdered, the rank window runs on k
    * rows. No corpus-sized driver state, no single-task stage. */
  def bm25TopK(documents: DataFrame, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Spread.toCores(documents)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val dl = t.select(col("doc_id"), size(col("toks")).cast("bigint").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val df0 = t.select(explode(array_distinct(col("toks"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
    val cand = df0.orderBy(col("df").desc, col("token")).limit(15)
    val qt = cand
      .withColumn("r", row_number().over(
        Window.orderBy(col("df").desc, col("token"))))
      .where(col("r") >= 11 && col("r") <= 15).select("token", "df")
    val tf = t.select(col("doc_id"), explode(col("toks")).as("token"))
      .join(broadcast(qt), "token")
      .groupBy("doc_id", "token", "df").agg(count(lit(1)).as("tf"))
    // fixed k1 = 1.2, b = 0.75 (the Robertson defaults); the expression's
    // association order is mirrored textually in the oracle SQL so both
    // engines execute the identical IEEE op sequence
    val sc = tf.join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("micro",
        round(log((col("n_docs") - col("df") + lit(0.5))
            / (col("df") + lit(0.5)) + lit(1))
          * col("tf") * lit(2.2)
          / (col("tf") + lit(1.2)
            * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
          * lit(1e6)).cast("bigint"))
    val agg = sc.groupBy("doc_id").agg(sum("micro").as("score_micro"))
    agg.orderBy(col("score_micro").desc, col("doc_id")).limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("score_micro"))
  }

  /** Laplace-smoothed bigram language-model score per document — the
    * KenLM-style perplexity screen the CCNet/Gopher pipeline lineage uses
    * as its main quality filter: log P(doc) = Σ over adjacent token pairs
    * of ln((c(w1,w2) + 1) / (c(w1) + V)), with corpus-wide bigram/unigram
    * counts and vocabulary size V as the add-one denominator. Documents
    * whose transitions are corpus-typical score high (less negative);
    * gibberish and boilerplate-free-association score low.
    *
    * Each bigram's log-probability is rounded to integer micro-units
    * before the per-document sum (the bm25TopK discipline: float math is
    * one fixed-shape scalar expression, accumulation is exact integer).
    * Documents with fewer than two tokens have no transitions and are
    * excluded by contract (visible in the oracle's WHERE).
    *
    * Scale shape: unigram/bigram counts are explode+groupBy (map-side
    * combinable, vocab-sized results); scoring joins the per-doc bigram
    * stream against them — corpus-linear shuffles on (bigram) and (w1),
    * never a pair explosion; V is a broadcast 1-row aggregate. */
  def bigramLogProb(documents: DataFrame): DataFrame = {
    val t = Spread.toCores(documents)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
    val uni = t.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val db = t.select(col("doc_id"),
      explode(Natives.shingles(col("toks"), 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val bi = db.groupBy("bg").agg(count(lit(1)).as("cb"))
    db.join(bi, "bg")
      .join(uni, col("w1") === col("w"))
      .crossJoin(broadcast(vocab))
      .withColumn("micro",
        round(log((col("cb") + lit(1.0)) / (col("cu") + col("v")))
          * lit(1e6)).cast("bigint"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("micro").as("logprob_micro"))
      .orderBy("doc_id")
  }

  /** RAKE keyphrase extraction (Rose et al. 2010) — the unsupervised
    * keyword mining a corpus-exploration pipeline runs before any model
    * sees the data. Candidate phrases are maximal stopword-free token
    * runs (gaps-and-islands over the token stream); each word scores
    * degree/frequency where degree = Σ length of phrases containing it;
    * a phrase scores the sum of its word scores. All scoring is integer
    * micro-units (truncating division per word BEFORE the phrase sum), so
    * the ranking is exact cross-engine.
    *
    * Shape at 100 TB: the island window partitions by doc_id (the same
    * per-document key every text op shuffles on), word stats are
    * vocabulary-sized map-side-combinable aggregates, and the final
    * ranking is a distributed TakeOrdered — only `topK` rows ever sit in
    * one place. */
  def rakePhrases(documents: DataFrame, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stopArr = array(
      Seq("the", "a", "and", "of", "to", "in", "is", "on").map(lit): _*)
    val toks = documents
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "token")
      .withColumn("is_stop", array_contains(stopArr, col("token")))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val phrases = toks
      .withColumn("island", sum(col("is_stop").cast("long")).over(byDoc))
      .where(!col("is_stop"))
      .groupBy("doc_id", "island")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          x => x.getField("token")), " ").as("phrase"),
        count(lit(1)).as("plen"))
    val words = phrases
      .select(col("phrase"), col("plen"),
        explode(split(col("phrase"), " ")).as("w"))
    val wscore = words.groupBy("w")
      .agg(expr("(sum(plen) * 1000000) div count(1)").as("wscore"))
    val distinctPhrases = phrases.groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"))
    distinctPhrases
      .select(col("phrase"), col("n_occurrences"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wscore, "w")
      .groupBy("phrase", "n_occurrences")
      .agg(sum("wscore").as("score_micro"))
      .orderBy(col("score_micro").desc, col("phrase"))
      .limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_micro").desc, col("phrase"))).cast("int"))
      .select("phrase", "n_occurrences", "score_micro", "rank")
      .orderBy("rank")
  }
}
