package graft
import org.apache.spark.sql.{Column, DataFrame}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * `SPARK_GRAFT_FP=<q1,q2>` switches the named queries to AGGREGATE
  * FINGERPRINT comparison: instead of materializing the full result (the
  * interval-overlap join is inherently QUADRATIC in ScaleUp replica
  * count — 4·10⁹ rows at 32×, which no row-level comparator can hold),
  * the engine emits one row `(n_rows, hash_sum)` — count plus the
  * commutative decimal(38) sum of a 56-bit md5-derived hash of each
  * canonical row — and oracle_sql.json carries the SAME aggregation
  * wrapped around the original oracle SQL in DuckDB syntax. Both engines
  * stream their pair joins through the aggregate; neither materializes
  * the quadratic output. Canonical row = columns sorted by name, each
  * cast to a cross-engine-stable string (timestamps via epoch micros),
  * then ENCODED per column as `md5(value)` with NULL → the marker `N`
  * (not a hex string, so it aliases with no value), and the 32-hex/`N`
  * field codes comma-joined. The per-column hash makes the canonical
  * form injective: a value containing a comma or the literal text
  * "NULL" cannot bleed across field boundaries (the r13 form's known
  * aliasing hole). Restricted to exactly-representable column types
  * (no float/double/decimal — their to-string formats are not
  * cross-engine-stable); guarded loudly. */
object Verify {

  private val FpTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(ByteType, ShortType, IntegerType, LongType, BooleanType,
      StringType, DateType, TimestampType)
  }

  /** The per-row 56-bit canonical hash both fingerprint forms sum (see
    * [[fingerprint]] for the encoding rationale). */
  private def canonicalHash(
      schema: org.apache.spark.sql.types.StructType): Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.TimestampType
    val bad = schema.fields.filterNot(f => FpTypes.contains(f.dataType))
    require(bad.isEmpty,
      s"fingerprint: non-exact column types ${bad.map(f => s"${f.name}:${f.dataType}").mkString(", ")} " +
        "- the canonical string is only cross-engine-stable for integer/" +
        "string/bool/date/timestamp columns")
    val cols = schema.fields.sortBy(_.name).map { f =>
      val base = f.dataType match {
        case TimestampType => unix_micros(col(f.name)).cast("string")
        case _ => col(f.name).cast("string")
      }
      // per-column md5 → injective canonical row: each field is exactly
      // 32 hex chars or the 1-char non-hex NULL marker, so no value
      // (embedded comma, literal "NULL") can alias a field boundary
      coalesce(md5(base), lit("N"))
    }
    conv(substring(md5(concat_ws(",", cols.toIndexedSeq: _*)), 1, 14),
      16, 10).cast("decimal(38,0)")
  }

  /** Engine side of the fingerprint: one row (n_rows BIGINT,
    * hash_sum STRING). */
  private[graft] def fingerprint(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val h = canonicalHash(df.schema)
    df.select(count(lit(1)).cast("long").as("n_rows"),
      // 56-bit values summed exactly in decimal(38): ~10²⁶ at 4·10⁹ rows,
      // 12 digits of headroom; emitted as STRING so both engines' output
      // reprs agree byte-for-byte in the comparator
      coalesce(sum(h).cast("string"), lit("0")).as("hash_sum"))
  }

  /** Primes multiplying each (sorted-by-name) column's reduced value in
    * the sample predicate; indexed by FIELD position so both engines
    * agree even when string columns are skipped in between. */
  private[graft] val SamplePrimes = Array(31L, 7919L, 104729L, 1299709L)

  /** Cheap deterministic 1-in-`mod` row sample, computable identically in
    * Spark and DuckDB WITHOUT per-row md5 (which is exactly the cost the
    * sampled fingerprint exists to shed: ~8 md5/row × 6.5·10¹⁰ interval-
    * join rows at 128× = hours on both engines, the SWEEP_128X SKIP).
    * Each non-string column reduces to an int (timestamp → epoch micros,
    * date → days since epoch, bool → 0/1, NULL → −1 sentinel), is folded
    * mod 1000003 (so every product stays ≲1.3·10¹², far from BIGINT
    * overflow — DuckDB ERRORS on overflow rather than wrapping), scaled
    * by a per-position prime, summed, and the row is sampled iff the sum
    * is divisible by `mod`. `%` is C-style (sign of dividend) in BOTH
    * engines, and divisibility is sign-agnostic anyway. String columns
    * are excluded (no md5-free cross-engine int reduction); the values a
    * string column holds are still fully hash-checked for every sampled
    * row by the canonical row hash. */
  private def sampleIntCols(
      schema: org.apache.spark.sql.types.StructType): Seq[(Int, String,
      org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    val usable = schema.fields.sortBy(_.name).zipWithIndex.collect {
      case (f, i) if f.dataType != StringType => (i, f.name, f.dataType)
    }.toSeq
    require(usable.nonEmpty,
      "sampled fingerprint needs at least one non-string column for the " +
        "md5-free sample predicate; use the exact fingerprint instead")
    usable
  }

  private[graft] def samplePred(
      schema: org.apache.spark.sql.types.StructType, mod: Long): Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    require(mod > 1, s"sample modulus must be > 1, got $mod")
    val terms = sampleIntCols(schema).map { case (i, name, dt) =>
      val v = dt match {
        case TimestampType => unix_micros(col(name))
        case DateType =>
          datediff(col(name), to_date(lit("1970-01-01"))).cast("long")
        case _ => col(name).cast("long") // bool + all integral widths
      }
      (coalesce(v, lit(-1L)) % lit(1000003L)) *
        lit(SamplePrimes(i % SamplePrimes.length))
    }
    (terms.reduce(_ + _) % lit(mod)) === lit(0L)
  }

  /** Engine side of the SAMPLED fingerprint: one row (n_rows BIGINT —
    * still EXACT over the full result, n_sampled BIGINT, hash_sum STRING
    * over the deterministic 1-in-`mod` sample). The exact total keeps the
    * strongest cheap check; the sampled hash bounds the md5 volume at
    * replica scale. A wrong value in an unsampled row escapes the hash
    * only if the row count stays balanced AND no sampled row moved —
    * with thousands of sampled rows a systematic defect is caught with
    * near-certainty, which is the contract a 1-in-N oracle can honestly
    * claim (recorded per-sweep in SCALING.md). */
  private[graft] def fingerprintSampled(df: DataFrame, mod: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val h = canonicalHash(df.schema)
    val pred = samplePred(df.schema, mod)
    // when() short-circuits in codegen: the md5 chain only evaluates on
    // sampled rows, which is the entire point
    df.select(count(lit(1)).cast("long").as("n_rows"),
      count(when(pred, lit(1))).cast("long").as("n_sampled"),
      coalesce(sum(when(pred, h)).cast("string"), lit("0")).as("hash_sum"))
  }

  /** Strip a trailing top-level ORDER BY from the inner oracle SQL before
    * wrapping it in the fingerprint aggregate: count + a commutative sum
    * cannot observe row order, but DuckDB does NOT prune a subquery ORDER
    * BY — at 32× the wrapper was sorting the 4·10⁹-row interval-join
    * output (~150 GB of sort state) for a 1-row aggregate, past any
    * RAM-or-temp-disk budget (the kernel OOM-killed the comparator at
    * 103 GB RSS; the engine side is already covered by Spark's
    * EliminateSorts rule). Conservative by construction: only an ORDER BY
    * at paren depth 0 outside string literals AND outside SQL comments
    * counts, and it is kept when LIMIT/OFFSET/FETCH follows it (there the
    * order IS semantic). Comment awareness matters even though no current
    * oracle SQL carries comments: an "ORDER BY" inside a trailing `--`
    * line comment or a slash-star block comment would otherwise be taken
    * as the clause start and the SQL truncated mid-comment. */
  private[graft] def stripTrailingOrderBy(sql: String): String = {
    var depth = 0; var i = 0; var last = -1
    var inSingle = false; var inDouble = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inSingle) { if (c == '\'') inSingle = false }
      else if (inDouble) { if (c == '"') inDouble = false }
      else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        // line comment: skip to end-of-line (or end-of-string); the
        // newline itself is ordinary whitespace, let the loop consume it
        val nl = sql.indexOf('\n', i + 2)
        i = if (nl < 0) sql.length - 1 else nl - 1
      }
      else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        // block comment: skip past the closing */; an unterminated block
        // comment swallows the rest (matching SQL semantics — nothing
        // after it can be a live ORDER BY either)
        val close = sql.indexOf("*/", i + 2)
        i = if (close < 0) sql.length - 1 else close + 1
      }
      else c match {
        case '\'' => inSingle = true
        case '"'  => inDouble = true
        case '('  => depth += 1
        case ')'  => depth -= 1
        case 'o' | 'O' if depth == 0 =>
          val boundedLeft = i == 0 || {
            val p = sql.charAt(i - 1)
            !Character.isLetterOrDigit(p) && p != '_'
          }
          if (boundedLeft && sql.regionMatches(true, i, "ORDER", 0, 5) &&
              sql.substring(i + 5).matches("(?is)\\s+BY\\b.*")) last = i
        case _ =>
      }
      i += 1
    }
    if (last < 0) sql
    else {
      // the keep-when-LIMIT/OFFSET/FETCH-follows scan runs over a
      // comment-and-literal-blanked view of the tail, mirroring the main
      // scan's awareness: "ORDER BY a -- limit removed" (or a literal
      // containing LIMIT) must not retain the no-op sort, and a quoted
      // identifier "limit" is not the keyword
      val tail = blankCommentsAndLiterals(sql.substring(last))
      if (tail.matches("(?is).*\\b(LIMIT|OFFSET|FETCH)\\b.*")) sql
      else sql.substring(0, last).replaceAll("\\s+$", "")
    }
  }

  /** Blank SQL comments and the CONTENTS of string literals / quoted
    * identifiers (delimiters kept, interiors replaced by spaces) so a
    * keyword scan over the result can only match live SQL. */
  private[graft] def blankCommentsAndLiterals(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0; var inS = false; var inD = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inS) {
        // '' is SQL's escaped quote INSIDE a literal, not close-then-open:
        // both chars stay part of the (blanked) literal. Backslash is
        // deliberately NOT an escape here — the scanned strings are
        // DuckDB-dialect oracle SQL, where 'a\' is a complete literal
        // ending in a backslash; treating \' as an escape would misparse it
        if (c == '\'' && i + 1 < s.length && s.charAt(i + 1) == '\'') {
          out.append("  "); i += 2
        } else if (c == '\'') { inS = false; out.append(c); i += 1 }
        else { out.append(' '); i += 1 }
      } else if (inD) {
        // "" is the escaped quote inside a quoted identifier, same rule
        if (c == '"' && i + 1 < s.length && s.charAt(i + 1) == '"') {
          out.append("  "); i += 2
        } else if (c == '"') { inD = false; out.append(c); i += 1 }
        else { out.append(' '); i += 1 }
      } else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') {
        val nl = s.indexOf('\n', i + 2)
        i = if (nl < 0) s.length else nl // the newline survives as whitespace
      } else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        val close = s.indexOf("*/", i + 2)
        out.append(' ') // a comment can separate tokens
        i = if (close < 0) s.length else close + 2
      } else {
        if (c == '\'') inS = true else if (c == '"') inD = true
        out.append(c); i += 1
      }
    }
    out.toString
  }

  /** Oracle side: the same aggregation in DuckDB syntax, wrapped around
    * the original oracle SQL (minus its order-insensitive trailing ORDER
    * BY); built from the ENGINE result schema so both sides canonicalize
    * identical column orders and types. */
  private[graft] def fingerprintOracle(rawInner: String,
      schema: org.apache.spark.sql.types.StructType): String = {
    val inner = stripTrailingOrderBy(rawInner)
    import org.apache.spark.sql.types.TimestampType
    val cols = schema.fields.sortBy(_.name).map { f =>
      // quote identifiers: a column name needing quoting (keyword, dot,
      // space) must not break the generated wrapper far from its cause
      val qn = "\"" + f.name.replace("\"", "\"\"") + "\""
      val base = f.dataType match {
        case TimestampType => s"epoch_us($qn)::VARCHAR"
        case _ => s"$qn::VARCHAR"
      }
      s"coalesce(md5($base), 'N')"
    }
    "SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
      "coalesce(CAST(sum(('0x' || substr(md5(concat_ws(','," +
      s" ${cols.mkString(", ")})), 1, 14))::BIGINT) AS VARCHAR), '0')" +
      s" AS hash_sum FROM ($inner) fp_t"
  }

  /** DuckDB side of [[samplePred]] — same sorted-by-name field order,
    * same FIELD-position prime indexing, same −1 NULL sentinel, same
    * int reductions (epoch_us ≡ unix_micros; DATE − DATE ≡ datediff). */
  private[graft] def samplePredSql(
      schema: org.apache.spark.sql.types.StructType, mod: Long): String = {
    import org.apache.spark.sql.types._
    require(mod > 1, s"sample modulus must be > 1, got $mod")
    val terms = sampleIntCols(schema).map { case (i, name, dt) =>
      val qn = "\"" + name.replace("\"", "\"\"") + "\""
      val v = dt match {
        case TimestampType => s"epoch_us($qn)"
        case DateType => s"($qn - DATE '1970-01-01')::BIGINT"
        case _ => s"$qn::BIGINT"
      }
      s"(coalesce($v, -1) % 1000003) * ${SamplePrimes(i % SamplePrimes.length)}"
    }
    s"(${terms.mkString(" + ")}) % $mod = 0"
  }

  /** Oracle side of the sampled fingerprint: exact count over the full
    * inner result, md5 row hash summed over the 1-in-`mod` sample only. */
  private[graft] def fingerprintSampledOracle(rawInner: String,
      schema: org.apache.spark.sql.types.StructType, mod: Long): String = {
    val inner = stripTrailingOrderBy(rawInner)
    import org.apache.spark.sql.types.TimestampType
    val cols = schema.fields.sortBy(_.name).map { f =>
      val qn = "\"" + f.name.replace("\"", "\"\"") + "\""
      val base = f.dataType match {
        case TimestampType => s"epoch_us($qn)::VARCHAR"
        case _ => s"$qn::VARCHAR"
      }
      s"coalesce(md5($base), 'N')"
    }
    val pred = samplePredSql(schema, mod)
    val rowHash = "('0x' || substr(md5(concat_ws(',', " +
      s"${cols.mkString(", ")})), 1, 14))::BIGINT"
    s"SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
      s"CAST(count(CASE WHEN $pred THEN 1 END) AS BIGINT) AS n_sampled, " +
      s"coalesce(CAST(sum(CASE WHEN $pred THEN $rowHash END) AS VARCHAR)," +
      s" '0') AS hash_sum FROM ($inner) fp_t"
  }

  val FpSampleMod = "SPARK_GRAFT_FP_SAMPLE_MOD"

  /** The SPARK_GRAFT_FP queries' sample modulus: [[FpSampleMod]], default 1
    * (exact). Values above 1 switch to the SAMPLED fingerprint (exact n_rows
    * + 1-in-mod hashed sample), the replica-scale posture that retires the
    * md5-bound SKIPs. */
  def sampleMod(env: Map[String, String]): Long =
    Session.positiveInt(env, FpSampleMod).getOrElse(1).toLong

  def main(args: Array[String]): Unit = {
    val sampleMod = Verify.sampleMod(sys.env)
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always runs the full surface)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // the invariance sweep re-runs the whole surface under other postures
    // (Session's knobs, or -Dspark.* confs) and hash-compares against the
    // oracle: results must not depend on how Spark executes
    val spark = Session.build()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // 4 queries in flight: Spark's scheduler interleaves the jobs, roughly
    // halving the wall-clock of this (driver-run) correctness dump; each
    // query writes its own directory, failures stay per-query
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val fp: Set[String] = sys.env.get("SPARK_GRAFT_FP")
      .map(_.split(",").toSet).getOrElse(Set.empty)
    // pre-fingerprint result schemas, captured while each query runs: the
    // oracle-JSON writer must NOT re-invoke the builder to learn the schema
    // (several builders do eager driver work at construction — the idf
    // guard collect, robustOutliers' localCheckpoint — so a rebuild would
    // silently re-execute them at full scale)
    val fpSchemas = new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.types.StructType]()
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      scala.concurrent.Future {
        try {
          val res = fn(spark, sfDir)
          val out = if (fp.contains(name)) {
            fpSchemas.put(name, res.schema)
            if (sampleMod > 1) fingerprintSampled(res, sampleMod)
            else fingerprint(res)
          } else res
          out.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(only, fp, fpSchemas, sampleMod))
    spark.stop()
  }

  /** oracle_sql.json content. Fingerprinted queries carry the WRAPPED
    * oracle, built from the schema captured during the run (NOT a builder
    * re-invocation — several builders do eager driver work at
    * construction). A fingerprinted query that failed has no captured
    * schema — it gets a fast-failing SENTINEL (a reference to a
    * nonexistent column), never the raw inner SQL: the inner SQL of the
    * interval-overlap queries is inherently quadratic (4·10⁹ rows at
    * 32×), and a comparator that evaluates the oracle before checking the
    * engine output directory would try to materialize it. The sentinel
    * errors instantly in any engine, keeping the failure loud without the
    * quadratic-execution hazard. */
  private[graft] def oracleJson(only: Option[Set[String]], fp: Set[String],
      fpSchemas: java.util.Map[String, org.apache.spark.sql.types.StructType],
      sampleMod: Long = 1L): String = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) =>
        val sql =
          if (fp.contains(k)) {
            if (!fpSchemas.containsKey(k))
              "SELECT fingerprint_schema_missing_" +
                k.replaceAll("[^A-Za-z0-9_]", "_")
            else if (sampleMod > 1)
              fingerprintSampledOracle(v, fpSchemas.get(k), sampleMod)
            else fingerprintOracle(v, fpSchemas.get(k))
          } else v
        s"${q(k)}: ${q(sql)}"
      }.mkString("{", ",", "}")
  }
}
