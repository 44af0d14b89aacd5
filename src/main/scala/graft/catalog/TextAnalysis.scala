package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Pins, QueryDef, Spill, Tables}
import graft.ops.Text

/** Text-analysis + dedup operators over the `documents` table, each with
  * a DuckDB oracle that reproduces the md5-based signatures exactly.
  *
  * SQL fragments are generated from the same constants as the Spark
  * side (stopword lists, shingle width, hash count) so the two cannot
  * drift.
  */
object TextAnalysis {

  // Shared SQL fragments (DuckDB dialect).
  private[catalog] val normSql =
    """trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))"""
  private[catalog] val toksSql = s"list_filter(string_split($normSql, ' '), t -> t != '')"

  /** Documents spread across the cluster before any per-row regex work:
    * the single-file table scans as ONE partition, and every query here
    * is CPU-bound per row (explicit count — AQE's size-based coalesce
    * would fold small-byte/high-CPU partitions back together). At scale
    * a multi-file table already scans parallel; the repartition then
    * just pins the downstream key.
    */
  private def docs(s: SparkSession, dir: String) =
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  private def listLit(words: Seq[String]) = words.map(w => s"'$w'").mkString("[", ", ", "]")
  private def hitsSql(words: Seq[String]) =
    s"len(list_filter(toks, t -> list_contains(${listLit(words)}, t)))"

  // -------------------------------------------------------------------
  // Tokenization + counting (whitespace + BPE-ish regex classes).
  val tokenCount: QueryDef = QueryDef.sql("q_token_count")(
    s"""WITH base AS (SELECT doc_id, text, $toksSql AS toks FROM documents)
       |SELECT doc_id, len(toks) AS n_tokens,
       |  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_word_runs,
       |  len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS n_punct,
       |  length(text) AS n_chars_calc
       |FROM base ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir).select(
        col("doc_id"),
        size(Text.tokens(col("text"))).as("n_tokens"),
        regexp_count(lower(col("text")), lit("[a-z0-9]+")).as("n_word_runs"),
        regexp_count(lower(col("text")), lit("[^a-z0-9\\s]")).as("n_punct"),
        length(col("text")).as("n_chars_calc"))
      .orderBy("doc_id")
  }

  // Language ID: stopword-list scoring + deterministic arg-max.
  val langId: QueryDef = {
    val scoreSqls = Text.langStopwords.map { case (l, ws) => s"${hitsSql(ws)} AS s_$l" }
    val langs = Text.langStopwords.map(_._1)
    // arg-max CASE chain, ties resolve in list order
    val caseSql = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(o => s"s_$o")
      val best = if (rest.size == 1) rest.head else s"greatest(${rest.mkString(", ")})"
      s"WHEN s_$l >= $best THEN '$l'"
    }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
    QueryDef.sql("q_lang_id")(
      s"""WITH base AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
         |scored AS (SELECT doc_id, lang, ${scoreSqls.mkString(", ")} FROM base)
         |SELECT lang, $caseSql AS lang_pred, COUNT(*) AS n
         |FROM scored GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val scores = Text.langScores(col("__toks"))
      docs(s, dir)
        // stage tokens as a column: HOF lambdas re-evaluate non-lambda
        // subtrees per element in interpreted mode
        .select(col("lang"), Text.tokens(col("text")).as("__toks"))
        .select(col("lang"), Text.langPredict(scores).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")
    }
  }

  // Quality scoring: length/punct/stopword ratio composite. All ratios
  // are int/int IEEE divisions — bit-identical across engines.
  val qualityScore: QueryDef = {
    val enHits = hitsSql(Text.langStopwords.head._2)
    QueryDef.sql("q_quality_score")(
      s"""WITH base AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id, length(text) AS n_chars_calc, len(toks) AS n_tokens,
         |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS tok_chars,
         |  $enHits AS stop_hits,
         |  len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS punct,
         |  len(regexp_extract_all(text, '[0-9]')) AS digits
         |  FROM base)
         |SELECT doc_id, n_chars_calc, n_tokens,
         |  tok_chars / greatest(n_tokens, 1) AS avg_token_len,
         |  stop_hits / greatest(n_tokens, 1) AS stop_ratio,
         |  punct / greatest(n_chars_calc, 1) AS punct_ratio,
         |  digits / greatest(n_chars_calc, 1) AS digit_ratio,
         |  0.3 * (stop_hits / greatest(n_tokens, 1))
         |    + 0.3 * (1 - punct / greatest(n_chars_calc, 1))
         |    + 0.2 * (least(n_tokens, 100) / 100.0)
         |    + 0.2 * (1 - digits / greatest(n_chars_calc, 1)) AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = col("__toks")
      val base = docs(s, dir)
        .select(col("doc_id"), col("text"), Text.tokens(col("text")).as("__toks"))
        .select(
        col("doc_id"),
        length(col("text")).as("n_chars_calc"),
        size(toks).as("n_tokens"),
        aggregate(transform(toks, t => length(t)), lit(0L), (acc, x) => acc + x).as("tok_chars"),
        Text.stopwordHits(toks, Text.langStopwords.head._2).as("stop_hits"),
        regexp_count(lower(col("text")), lit("[^a-z0-9\\s]")).as("punct"),
        regexp_count(col("text"), lit("[0-9]")).as("digits"))
      base.select(
          col("doc_id"), col("n_chars_calc"), col("n_tokens"),
          (col("tok_chars") / greatest(col("n_tokens"), lit(1))).as("avg_token_len"),
          (col("stop_hits") / greatest(col("n_tokens"), lit(1))).as("stop_ratio"),
          (col("punct") / greatest(col("n_chars_calc"), lit(1))).as("punct_ratio"),
          (col("digits") / greatest(col("n_chars_calc"), lit(1))).as("digit_ratio"),
          (lit(0.3) * (col("stop_hits") / greatest(col("n_tokens"), lit(1)))
            + lit(0.3) * (lit(1) - col("punct") / greatest(col("n_chars_calc"), lit(1)))
            + lit(0.2) * (least(col("n_tokens"), lit(100)) / lit(100.0))
            + lit(0.2) * (lit(1) - col("digits") / greatest(col("n_chars_calc"), lit(1))))
            .as("quality_score"))
        .orderBy("doc_id")
    }
  }

  // The canonical PUBLISHED rule-based quality filter (the "Gopher
  // rules", Rae et al. 2021 §A1.1 — the ruleset C4/MassiveText-style
  // corpus pipelines apply before any learned filter): word-count
  // bounds, mean-word-length window, symbol-to-word ratio (#/ellipsis),
  // bullet-start and ellipsis-end line ratios, alphabetic-word
  // fraction, and the required-stopword presence test (≥2 of the eight
  // canonical function words). Each rule surfaces as its measured
  // ratio plus the conjunctive verdict, so a pipeline can audit WHICH
  // rule rejected a document — the per-rule observability Dolma/RedPajama
  // report. Words here are the corpus-wide normalized tokens (shared
  // with every other text query) rather than raw whitespace words —
  // documented adaptation, constants otherwise verbatim. Scale shape:
  // one narrow codegen'd projection, no shuffle until the final sort.
  val gopherRules: QueryDef = {
    val reqWords = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    QueryDef.sql("q_gopher_rules")(
      s"""WITH base AS (SELECT doc_id, text, $toksSql AS toks,
         |  string_split(text, chr(10)) AS lines FROM documents),
         |m AS (SELECT doc_id,
         |  len(toks) AS n_words,
         |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS tok_chars,
         |  len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS symbols,
         |  len(lines) AS n_lines,
         |  len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]'))) AS bullet_lines,
         |  len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$'))) AS ellipsis_lines,
         |  len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS alpha_words,
         |  len(list_filter(${listLit(reqWords)}, w -> list_contains(toks, w))) AS req_stop_hits
         |  FROM base)
         |SELECT doc_id, n_words,
         |  tok_chars / greatest(n_words, 1) AS mean_word_len,
         |  symbols / greatest(n_words, 1) AS symbol_ratio,
         |  bullet_lines / greatest(n_lines, 1) AS bullet_ratio,
         |  ellipsis_lines / greatest(n_lines, 1) AS ellipsis_ratio,
         |  alpha_words / greatest(n_words, 1) AS alpha_ratio,
         |  req_stop_hits,
         |  CAST(n_words BETWEEN 50 AND 100000 AS INTEGER)
         |    + CAST(tok_chars / greatest(n_words, 1) BETWEEN 3 AND 10 AS INTEGER)
         |    + CAST(symbols / greatest(n_words, 1) < 0.1 AS INTEGER)
         |    + CAST(bullet_lines / greatest(n_lines, 1) <= 0.9 AS INTEGER)
         |    + CAST(ellipsis_lines / greatest(n_lines, 1) <= 0.3 AS INTEGER)
         |    + CAST(alpha_words / greatest(n_words, 1) >= 0.8 AS INTEGER)
         |    + CAST(req_stop_hits >= 2 AS INTEGER) AS n_rules_passed,
         |  (n_words BETWEEN 50 AND 100000)
         |    AND (tok_chars / greatest(n_words, 1) BETWEEN 3 AND 10)
         |    AND (symbols / greatest(n_words, 1) < 0.1)
         |    AND (bullet_lines / greatest(n_lines, 1) <= 0.9)
         |    AND (ellipsis_lines / greatest(n_lines, 1) <= 0.3)
         |    AND (alpha_words / greatest(n_words, 1) >= 0.8)
         |    AND (req_stop_hits >= 2) AS gopher_pass
         |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val m = docs(s, dir)
        .select(col("doc_id"), col("text"),
          Text.tokens(col("text")).as("toks"),
          split(col("text"), "\n").as("lines"))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_words"),
          aggregate(transform(col("toks"), t => length(t)), lit(0L),
            (acc, x) => acc + x).as("tok_chars"),
          regexp_count(col("text"), lit("#|\\.\\.\\.|…")).as("symbols"),
          size(col("lines")).as("n_lines"),
          size(filter(col("lines"),
            l => regexp_like(l, lit("^\\s*[-*•]")))).as("bullet_lines"),
          size(filter(col("lines"),
            l => regexp_like(l, lit("(\\.\\.\\.|…)\\s*$")))).as("ellipsis_lines"),
          size(filter(col("toks"),
            t => regexp_like(t, lit("[a-z]")))).as("alpha_words"),
          size(filter(array(reqWords.map(lit): _*),
            w => array_contains(col("toks"), w))).as("req_stop_hits"))
      val meanLen = col("tok_chars") / greatest(col("n_words"), lit(1))
      val symbolR = col("symbols") / greatest(col("n_words"), lit(1))
      val bulletR = col("bullet_lines") / greatest(col("n_lines"), lit(1))
      val ellipsisR = col("ellipsis_lines") / greatest(col("n_lines"), lit(1))
      val alphaR = col("alpha_words") / greatest(col("n_words"), lit(1))
      m.select(
          col("doc_id"), col("n_words"),
          meanLen.as("mean_word_len"),
          symbolR.as("symbol_ratio"),
          bulletR.as("bullet_ratio"),
          ellipsisR.as("ellipsis_ratio"),
          alphaR.as("alpha_ratio"),
          col("req_stop_hits"),
          // per-doc rule tally: varies even on a corpus where the
          // conjunctive verdict is uniform, which is what makes the
          // oracle hash sensitive to every individual rule
          (col("n_words").between(50, 100000).cast("int") +
            meanLen.between(3, 10).cast("int") +
            (symbolR < 0.1).cast("int") + (bulletR <= 0.9).cast("int") +
            (ellipsisR <= 0.3).cast("int") + (alphaR >= 0.8).cast("int") +
            (col("req_stop_hits") >= 2).cast("int")).as("n_rules_passed"),
          (col("n_words").between(50, 100000) &&
            meanLen.between(3, 10) &&
            (symbolR < 0.1) && (bulletR <= 0.9) && (ellipsisR <= 0.3) &&
            (alphaR >= 0.8) && (col("req_stop_hits") >= 2)).as("gopher_pass"))
        .orderBy("doc_id")
    }
  }

  // Fixed-weight logistic quality classifier — the shape of every
  // learned quality filter (fastText/logreg over handcrafted features)
  // at inference time: a per-document dot product with a broadcast
  // weight vector, a sigmoid, a threshold. No shuffle at all until the
  // final ORDER BY — the whole scorer is one narrow projection, which
  // is why learned filters are effectively free at 100 TB next to the
  // joins around them. exp() can differ in the last ulp across engines,
  // so the probability is rounded to 6 decimals BEFORE the keep
  // threshold compares against it (same float discipline as the ln()
  // queries — the decision is made on the exact rounded value).
  val qualityLogit: QueryDef = {
    val enHits = hitsSql(Text.langStopwords.head._2)
    QueryDef.sql("q_quality_logit")(
      s"""WITH base AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |m AS (SELECT doc_id, length(text) AS nc, len(toks) AS nt,
         |  $enHits AS stop_hits,
         |  len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS punct,
         |  len(regexp_extract_all(text, '[0-9]')) AS digits
         |  FROM base),
         |z AS (SELECT doc_id,
         |  -1.0 + 3.0 * (stop_hits / greatest(nt, 1))
         |       - 4.0 * (punct / greatest(nc, 1))
         |       - 2.0 * (digits / greatest(nc, 1))
         |       + 1.5 * (least(nt, 100) / 100.0) AS z
         |  FROM m),
         |p AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS p_keep FROM z)
         |SELECT doc_id, p_keep, p_keep >= 0.5 AS kept
         |FROM p ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = col("__toks")
      val m = docs(s, dir)
        .select(col("doc_id"), col("text"), Text.tokens(col("text")).as("__toks"))
        .select(col("doc_id"),
          length(col("text")).as("nc"), size(toks).as("nt"),
          Text.stopwordHits(toks, Text.langStopwords.head._2).as("stop_hits"),
          regexp_count(lower(col("text")), lit("[^a-z0-9\\s]")).as("punct"),
          regexp_count(col("text"), lit("[0-9]")).as("digits"))
      val z = lit(-1.0) +
        lit(3.0) * (col("stop_hits") / greatest(col("nt"), lit(1))) -
        lit(4.0) * (col("punct") / greatest(col("nc"), lit(1))) -
        lit(2.0) * (col("digits") / greatest(col("nc"), lit(1))) +
        lit(1.5) * (least(col("nt"), lit(100)) / lit(100.0))
      m.select(col("doc_id"), round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("p_keep"))
        .select(col("doc_id"), col("p_keep"), (col("p_keep") >= 0.5).as("kept"))
        .orderBy("doc_id")
    }
  }

  // Zipf rank–frequency fit over the corpus vocabulary: token counts,
  // top-100 by frequency, then the closed-form least-squares slope of
  // ln(freq) on ln(rank) — the standard "is this corpus natural
  // language" diagnostic (slope ≈ −1 for clean text, flatter for
  // boilerplate/spam). Scale shape: token counts partial-aggregate
  // map-side; the top-100 is TakeOrderedAndProject (distributed top-k,
  // never a global sort); ranking and the regression fold run on the
  // 100-row result. Regression sums fold in rank order on both engines
  // so the slope is bit-stable; ln's last ulp is absorbed by round(6).
  val zipfFit: QueryDef = QueryDef.sql("q_zipf_fit")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt
       |       FROM (SELECT UNNEST(toks) AS t FROM base) u GROUP BY t),
       |top AS (SELECT t, cnt FROM tc ORDER BY cnt DESC, t LIMIT 100),
       |r AS (SELECT t, cnt,
       |        ROW_NUMBER() OVER (ORDER BY cnt DESC, t) AS rank FROM top),
       |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |  list_reduce(list_prepend(0.0, list(ln(rank) ORDER BY rank)), (a,b) -> a+b) AS sx,
       |  list_reduce(list_prepend(0.0, list(ln(cnt) ORDER BY rank)), (a,b) -> a+b) AS sy,
       |  list_reduce(list_prepend(0.0, list(ln(rank) * ln(rank) ORDER BY rank)), (a,b) -> a+b) AS sxx,
       |  list_reduce(list_prepend(0.0, list(ln(rank) * ln(cnt) ORDER BY rank)), (a,b) -> a+b) AS sxy
       |  FROM r)
       |SELECT n AS n_top,
       |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept
       |FROM s""".stripMargin) { (s, dir) =>
    val tc = docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
    val top = tc.orderBy(col("cnt").desc, col("t")).limit(100)
    val r = top.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("t"))))
    val agg = r.agg(
      count(lit(1)).as("n"),
      foldOrdered(log(col("rank"))).as("sx"),
      foldOrdered(log(col("cnt"))).as("sy"),
      foldOrdered(log(col("rank")) * log(col("rank"))).as("sxx"),
      foldOrdered(log(col("rank")) * log(col("cnt"))).as("sxy"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    agg.select(col("n").as("n_top"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
  }

  /** Rank-ordered sequential double fold of `e` over a relation that
    * carries a `rank` column — the aggregation-side twin of the oracle's
    * `list_reduce(list(e ORDER BY rank))`.
    */
  private def foldOrdered(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      transform(sort_array(collect_list(struct(col("rank"), e.as("__v")))),
        p => p.getField("__v")),
      lit(0.0), (a, x) => a + x)

  // Document fingerprinting: full md5 + 64-bit prefix fingerprint.
  val fingerprint: QueryDef = QueryDef.sql("q_fingerprint")(
    s"""SELECT doc_id, md5($normSql) AS fp_md5,
       |  CAST(('0x' || substr(md5($normSql), 1, 15)) AS BIGINT) AS fp64
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // input-sized partitions, not the fixed default: two regex passes
    // per row and a final sort whose per-task volume must stay constant
    // as the corpus grows (Tables.scaledPartitions scaladoc)
    val nParts = Tables.scaledPartitions(s, dir, "documents")
    Tables.documents(s, dir)
      .repartition(nParts, col("doc_id"))
      .select(
        col("doc_id"),
        md5(Text.normText(col("text"))).as("fp_md5"),
        Text.fingerprint64(col("text")).as("fp64"))
      .repartitionByRange(nParts, col("doc_id"))
      .sortWithinPartitions("doc_id")
  }

  // Exact dedup: hash-groupBy on the normalized-text fingerprint.
  // Map-side partial agg collapses dup groups before the shuffle; at
  // 100 TB the shuffle key is the 128-bit hash, not the document body.
  val dedupExact: QueryDef = QueryDef.sql("q_dedup_exact")(
    s"""SELECT md5($normSql) AS fp, COUNT(*) AS n_dups, MIN(doc_id) AS canonical_doc
       |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .groupBy(md5(Text.normText(col("text"))).as("fp"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("canonical_doc"))
      .orderBy("fp")
  }

  // MinHash signatures + LSH band keys (k=8 hashes, 4 bands of 2).
  private val K = 8
  private val shinglesSql =
    """CASE WHEN len(toks) >= 3
      |  THEN list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(toks[i:i+2], ' '))
      |  ELSE [array_to_string(toks, ' ')] END""".stripMargin
  private val sigSqls = (0 until K).map(i =>
    s"list_min(list_transform(sh, s -> CAST(('0x' || substr(md5('$i:' || s), 1, 15)) AS BIGINT))) AS sig_$i")
  private val bandSqls = (0 until K / 2).map(b =>
    s"md5(sig_${2 * b} || '|' || sig_${2 * b + 1}) AS band_$b")

  val minhashSig: QueryDef = QueryDef.sql("q_minhash_sig")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, $shinglesSql AS sh FROM base),
       |sig AS (SELECT doc_id, ${sigSqls.mkString(", ")} FROM sh)
       |SELECT doc_id,
       |  ${(0 until K).map(i => s"sig_$i").mkString(" || '|' || ")} AS sig_str,
       |  ${bandSqls.mkString(",\n  ")}
       |FROM sig ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Text.minhashSigDF(Tables.documents(s, dir), "doc_id", "text", 3, K)
      .select(col("doc_id") +:
        concat_ws("|", (0 until K).map(i => col(s"sig_$i")): _*).as("sig_str") +:
        Text.lshBandCols(2, K): _*)
      .orderBy("doc_id")
  }

  // MinHash-LSH near-dup candidates: explode band keys, equi-join on
  // (band index, band hash), distinct pairs. This is the 100 TB path:
  // a shuffle on band hash, never an O(n²) compare.
  val minhashPairs: QueryDef = QueryDef.pinned("q_minhash_pairs")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, $shinglesSql AS sh FROM base),
       |sig AS (SELECT doc_id, ${sigSqls.mkString(", ")} FROM sh),
       |bands AS (SELECT doc_id, ${bandSqls.mkString(", ")} FROM sig),
       |ex AS (
       |  ${(0 until K / 2).map(b => s"SELECT doc_id, $b AS band_idx, band_$b AS band_hash FROM bands")
            .mkString("\n  UNION ALL\n  ")})
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM ex a JOIN ex b
       |  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |  AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir, pins) =>
    // the self-join references `banded` twice — persist the tiny
    // signature relation so tokenize→shingle→hash runs once, not twice
    val sig = pins.persist(Text.minhashSigDF(Tables.documents(s, dir), "doc_id", "text", 3, K))
    val banded = sig
      .select(col("doc_id"), array(Text.lshBandCols(2, K): _*).as("bands"))
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  // Frequent-bucket skew guard for the LSH band join. A corpus with one
  // viral document duplicated B times puts B rows under one
  // (band_idx, band_hash) key: the plain q_minhash_pairs self-join
  // emits B²/2 pairs from that single key — quadratic in exactly the
  // documents a dedup pass most needs to handle. Cap semantics
  // (ops/Text.cappedBandEdges): buckets ≤ cap join all-pairs exactly;
  // buckets > cap emit star edges to the bucket-min representative —
  // O(B), connectivity-preserving for the CC clustering that consumes
  // these candidates, and the hot bucket never enters a join.
  //
  // The catalog pins cap=2 — deliberately tiny so sf0.01 (max bucket 3)
  // exercises BOTH branches under the DuckDB oracle; a deployment sets
  // the cap to the verify budget (e.g. 256: ≤32k verify pairs per
  // bucket). LshSkewSpec pins the guard on a 300×-viral fixture.
  val BandBucketCap = 2

  private val bandExSql: String =
    s"""base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, $shinglesSql AS sh FROM base),
       |sig AS (SELECT doc_id, ${sigSqls.mkString(", ")} FROM sh),
       |bands AS (SELECT doc_id, ${bandSqls.mkString(", ")} FROM sig),
       |ex AS (
       |  ${(0 until K / 2).map(b => s"SELECT doc_id, $b AS band_idx, band_$b AS band_hash FROM bands")
            .mkString("\n  UNION ALL\n  ")}),
       |sz AS (SELECT band_idx, band_hash, COUNT(*) AS bucket_n, MIN(doc_id) AS rep_doc
       |       FROM ex GROUP BY 1, 2)""".stripMargin

  val minhashPairsCapped: QueryDef = QueryDef.pinned("q_minhash_pairs_capped")(
    s"""WITH $bandExSql,
       |exn AS (
       |  SELECT ex.doc_id, ex.band_idx, ex.band_hash, sz.bucket_n, sz.rep_doc
       |  FROM ex JOIN sz USING (band_idx, band_hash))
       |SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM exn a JOIN exn b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |    AND a.doc_id < b.doc_id
       |  WHERE a.bucket_n <= $BandBucketCap
       |  UNION ALL
       |  SELECT rep_doc AS doc_a, doc_id AS doc_b FROM exn
       |  WHERE bucket_n > $BandBucketCap AND doc_id != rep_doc)
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir, pins) =>
    val sig = pins.persist(Text.minhashSigDF(Tables.documents(s, dir), "doc_id", "text", 3, K))
    val banded = sig
      .select(col("doc_id"), array(Text.lshBandCols(2, K): _*).as("bands"))
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    Text.cappedBandEdges(banded, "doc_id", BandBucketCap)
      .orderBy("doc_a", "doc_b")
  }

  // Observability twin — "no silent caps": the buckets the guard
  // star-compressed, with their sizes and representatives. A deployment
  // alerts on this relation; at sf0.01 it is the four 3-doc buckets.
  val minhashHotBuckets: QueryDef = QueryDef.pinned("q_minhash_hot_buckets")(
    s"""WITH $bandExSql
       |SELECT band_idx, band_hash, bucket_n, rep_doc FROM sz
       |WHERE bucket_n > $BandBucketCap
       |ORDER BY band_idx, band_hash""".stripMargin) { (s, dir, pins) =>
    val sig = pins.persist(Text.minhashSigDF(Tables.documents(s, dir), "doc_id", "text", 3, K))
    val banded = sig
      .select(col("doc_id"), array(Text.lshBandCols(2, K): _*).as("bands"))
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    banded.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("bucket_n"), min(col("doc_id")).as("rep_doc"))
      .filter(col("bucket_n") > lit(BandBucketCap))
      .orderBy("band_idx", "band_hash")
  }

  // N-gram (unigram-set) Jaccard near-dup, blocked by (lang, n_chars):
  // explode distinct tokens, equi-join within blocks, count
  // intersections, Jaccard = |A∩B| / (|A|+|B|-|A∩B|).
  //
  // The pair relation is shared with q_dedup_clusters (Curation), which
  // builds its edge set from exactly these pairs — threshold or
  // blocking-key changes must reach both, so both use these definitions.
  private[catalog] val JaccardThreshold = 0.3

  /** Shared CTEs: documents exploded to distinct tokens with block keys
    * (`ex(doc_id, lang, n_chars, n, t)`).
    */
  private[catalog] val distinctTokenExSql: String =
    s"""base AS (
       |  SELECT doc_id, lang, n_chars, list_distinct($toksSql) AS dtok FROM documents),
       |sized AS (SELECT doc_id, lang, n_chars, len(dtok) AS n, dtok FROM base),
       |ex AS (SELECT doc_id, lang, n_chars, n, UNNEST(dtok) AS t FROM sized)""".stripMargin

  /** Unfiltered pair stats: (doc_a, doc_b, n_a, n_b, inter) for every
    * blocked candidate pair. The exploded-token relation feeds both
    * sides of the self-join, so it is persisted in `pins` and comes back
    * as the second element, for a caller that can drop it early.
    */
  private[catalog] def tokenJaccardStats(s: SparkSession, dir: String,
      pins: Pins): (DataFrame, DataFrame) = {
    val ex = pins.persist(docs(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        array_distinct(Text.tokens(col("text"))).as("dtok"))
      .select(col("doc_id"), col("lang"), col("n_chars"), size(col("dtok")).as("n"),
        explode(col("dtok")).as("t")))
    val stats = ex.as("a").join(ex.as("b"),
        col("a.t") === col("b.t") && col("a.lang") === col("b.lang") &&
          col("a.n_chars") === col("b.n_chars") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
    (stats, ex)
  }

  val ngramJaccard: QueryDef = QueryDef.pinned("q_ngram_jaccard")(
    s"""WITH $distinctTokenExSql,
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b,
       |    COUNT(*) AS inter
       |  FROM ex a JOIN ex b
       |    ON a.t = b.t AND a.lang = b.lang AND a.n_chars = b.n_chars
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT doc_a, doc_b, inter, n_a + n_b - inter AS uni,
       |  inter / (n_a + n_b - inter) AS jaccard
       |FROM pairs WHERE inter / (n_a + n_b - inter) >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir, pins) =>
    val (stats, _) = tokenJaccardStats(s, dir, pins)
    stats
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("uni"),
        (col("inter") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy("doc_a", "doc_b")
  }

  // SimHash per doc + near-dup pairs by hamming distance, blocked on lang.
  private val simhashCte =
    s"""base AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
       |tokx AS (SELECT doc_id, lang, UNNEST(toks) AS tok FROM base),
       |tok AS (SELECT doc_id, lang, md5(tok) AS h FROM tokx),
       |s AS (SELECT doc_id, any_value(lang) AS lang,
       |  ${(1 to 16).map(j =>
            s"SUM(CASE WHEN substr(h, $j, 1) >= '8' THEN 1 ELSE -1 END) AS s_$j")
            .mkString(", ")}
       |  FROM tok GROUP BY doc_id),
       |sh AS (SELECT doc_id, lang,
       |  ${(1 to 16).map(j => s"(CASE WHEN s_$j > 0 THEN ${1L << (j - 1)} ELSE 0 END)")
            .mkString(" + ")} AS simhash16
       |  FROM s)""".stripMargin

  val simhash: QueryDef = QueryDef.sql("q_simhash")(
    s"""WITH $simhashCte
       |SELECT doc_id, simhash16 FROM sh ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Text.simhash16(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")
  }

  // auditOnly: the 16-bit form's pair join is blocked ONLY on lang —
  // O(n²/|langs|) pairs, and the sf1.0 scale run measured the cliff
  // (31× at 10× docs, BENCH_SCALE.json). It cannot be banded out of it
  // either: hamming ≤ 4 over 16 bits needs 5 bands of ~3 bits
  // (pigeonhole), whose 8-value key space leaves buckets of n/8 — still
  // quadratic. A 16-bit signature space (65k values) is itself
  // meaningless at corpus scale; the scale path is the 60-bit twin
  // q_simhash60_neardup (6×10-bit bands ≡ hamming ≤ 5, 3.6× at 10×
  // data — healthy). Kept for reference fidelity + the 60-bit twin's
  // cross-check, benched only via explicit SPARK_GRAFT_ONLY profiling.
  val simhashNearDup: QueryDef = QueryDef.sql("q_simhash_neardup")(
    s"""WITH $simhashCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  bit_count(xor(a.simhash16, b.simhash16)) AS hamming
       |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash16, b.simhash16)) <= 4
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    // simhash16 repartitions its input internally — plain loader here.
    // NOT persisted: measured 6.4s recompute-per-side vs 11.6s cached at
    // sf0.1 — the lang-blocked hamming join dominates, and caching its
    // inputs costs more (cache write + ColumnarToRow on both probe
    // sides) than re-running the cheap signature pass twice.
    val d = Tables.documents(s, dir)
    val sh = Text.simhash16(d, "doc_id", "text")
      .join(d.select("doc_id", "lang"), "doc_id")
    val a = sh.as("a")
    val b = sh.as("b")
    a.join(b, col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash16").bitwiseXOR(col("b.simhash16"))).as("hamming"))
      .filter(col("hamming") <= 4)
      .orderBy("doc_a", "doc_b")
  }

  // The complete MinHash-LSH dedup pipeline: band-collision candidates
  // verified with EXACT shingle-set Jaccard — the verification join is
  // restricted to candidate pairs, so the expensive compare runs on
  // O(candidates), not O(n²).
  //
  // The CTE chain and the Spark-side pair relation are shared with
  // Curation's q_corpus_dedup (which clusters these verified pairs and
  // drops non-canonical members), so the candidate definition cannot
  // drift between "report pairs" and "delete duplicates".
  /** DuckDB CTE body `base..inter`: `inter(doc_a, doc_b, n_a, n_b, inter)`
    * holds exact shingle-set intersection stats for every LSH-band
    * candidate pair.
    */
  private[catalog] val minhashVerifiedCte: String =
    s"""base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |shx AS (SELECT doc_id, $shinglesSql AS sh FROM base),
       |sig AS (SELECT doc_id, ${sigSqls.mkString(", ")} FROM shx),
       |bands AS (SELECT doc_id, ${bandSqls.mkString(", ")} FROM sig),
       |ex AS (
       |  ${(0 until K / 2).map(b => s"SELECT doc_id, $b AS band_idx, band_$b AS band_hash FROM bands")
            .mkString("\n  UNION ALL\n  ")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ex a JOIN ex b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |    AND a.doc_id < b.doc_id),
       |dsh AS (SELECT doc_id, list_distinct(sh) AS dsh, len(list_distinct(sh)) AS n
       |        FROM shx),
       |e AS (SELECT doc_id, n,
       |        CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS s
       |      FROM (SELECT doc_id, n, UNNEST(dsh) AS s FROM dsh)),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, ea.n AS n_a, eb.n AS n_b, COUNT(*) AS inter
       |  FROM cand c
       |  JOIN e ea ON ea.doc_id = c.doc_a
       |  JOIN e eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
       |  GROUP BY 1, 2, 3, 4)""".stripMargin

  /** Exact intersection stats `(doc_a, doc_b, n_a, n_b, inter)` for
    * every LSH-band candidate pair — the Spark twin of
    * [[minhashVerifiedCte]]. ONE shingle relation persisted in `pins`
    * (returned second, for a caller that can drop it early) feeds signature
    * generation (min is duplicate-insensitive), candidate banding, and
    * the exact-Jaccard verification — the CPU-heavy tokenize/shingle
    * chain runs once.
    */
  private[catalog] def minhashVerifiedStats(
      s: SparkSession, dir: String, pins: Pins): (DataFrame, DataFrame) = {
    // ONE per-DOC cached relation computed projection-locally by the
    // native one-pass expressions: the k-component signature
    // (MinHashSig60 — the q_minhash_sig scale path) plus the distinct
    // shingle hashes (ShingleHash60's distinct twin; dedupe on the
    // window STRING before hashing, exactly the oracle's
    // list_distinct → md5 order). The r16 shape exploded STRING
    // shingles, persisted ~80 rows/doc of 3-gram text, computed k
    // hash60(conv/substring/md5-hex) column trees per shingle ROW,
    // re-aggregated k minima, and ran a corpus-wide distinct() shuffle
    // over the shingle strings — all of that is now one narrow map
    // stage; nothing wider than (doc_id, k+|dsh| longs) is ever cached
    // or shuffled (guide §2.3: shuffle keys, not payloads).
    graft.functions.MinHashSig60.register(s)
    graft.functions.ShingleHash60.registerDistinct(s)
    val perDoc = pins.persist(Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), Text.tokens(col("text")).as("__toks"))
      .select(col("doc_id"),
        graft.functions.MinHashSig60.minhashSig60(col("__toks"), 3, K).as("__sig"),
        graft.functions.ShingleHash60.shingleHash60Distinct(col("__toks"), 3)
          .as("__dsh")))
    // fill the cache EAGERLY: this relation feeds several AQE shuffle
    // branches (both band sides, both verify sides) which materialize
    // concurrently — with a lazy persist each raced to compute the
    // uncached tokenize+hash chain
    perDoc.count()
    val sigDf = perDoc.select(col("doc_id") +:
      (0 until K).map(i => element_at(col("__sig"), i + 1).as(s"sig_$i")): _*)
    val banded = sigDf
      .select(col("doc_id"), array(Text.lshBandCols(2, K): _*).as("bands"))
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // the verify join carries the candidate-pair × shingle fan-out
    // (the query's hottest shuffle, 209 CPU-s at sf0.1 when keyed by
    // raw 3-gram STRINGS): key it by the 60-bit md5 instead — the
    // shuffle/sort compares int64s, and the oracle CTE hashes with the
    // same md5 so any collision (p ≈ |sh|²/2⁶⁰) is shared bit-for-bit
    val dsh = perDoc.select(col("doc_id"), size(col("__dsh")).as("n"),
      explode(col("__dsh")).as("sh60"))
    val ea = dsh.select(col("doc_id").as("doc_a"), col("n").as("n_a"),
      col("sh60"))
    val eb = dsh.select(col("doc_id").as("doc_b2"), col("n").as("n_b"),
      col("sh60").as("sh60b"))
    val stats = cand.join(ea, "doc_a")
      .join(eb, col("doc_b") === col("doc_b2") && col("sh60") === col("sh60b"))
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).as("inter"))
    (stats, perDoc)
  }

  val minhashVerified: QueryDef = QueryDef.pinned("q_minhash_verified")(
    s"""WITH $minhashVerifiedCte
       |SELECT doc_a, doc_b, inter, n_a + n_b - inter AS uni,
       |  inter / (n_a + n_b - inter) AS jaccard
       |FROM inter ORDER BY doc_a, doc_b""".stripMargin) { (s, dir, pins) =>
    val (stats, _) = minhashVerifiedStats(s, dir, pins)
    stats
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("uni"),
        (col("inter") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  // -------------------------------------------------------------------
  // 60-bit SimHash via the native one-pass expression
  // (graft.functions.SimHash60Expr): signatures come out of the scan
  // stage's projection with NO explode and NO shuffle — compare the
  // 16-bit explode→aggregate shape above. The oracle recomputes every
  // bit through the explode formulation, proving the two shapes agree.
  private val sig60Cte =
    s"""base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tokx AS (SELECT doc_id, UNNEST(toks) AS t FROM base),
       |tok AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tokx),
       |bits AS (SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS c
       |         FROM tok CROSS JOIN (SELECT UNNEST(generate_series(0, 59)) AS b) bb
       |         GROUP BY 1, 2),
       |sig AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 0 THEN 1::BIGINT << b ELSE 0 END)
       |                            AS BIGINT) AS s
       |        FROM bits GROUP BY doc_id)""".stripMargin

  val simhash60: QueryDef = QueryDef.sql("q_simhash60")(
    s"""WITH $sig60Cte
       |SELECT d.doc_id, COALESCE(sig.s, 0) AS simhash60
       |FROM documents d LEFT JOIN sig ON d.doc_id = sig.doc_id
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    graft.functions.SimHash60.register(s)
    docs(s, dir)
      .select(col("doc_id"),
        graft.functions.SimHash60.simhash60(Text.tokens(col("text"))).as("simhash60"))
      .orderBy("doc_id")
  }

  // Near-dup pairs over the 60-bit signature, banded 6 × 10 bits: a pair
  // within hamming distance 5 differs in at most 5 bands, so (pigeonhole)
  // at least one band matches — the banded equi-join + exact hamming
  // verify returns EXACTLY the hamming <= 5 pair set while joining on
  // 10-bit band keys instead of comparing all pairs (Manku et al.'s
  // web-dedup blocking, the O(n·bands) scale path).
  val simhash60NearDup: QueryDef = QueryDef.pinned("q_simhash60_neardup")(
    s"""WITH $sig60Cte,
       |ex AS (SELECT doc_id, s, b AS band_idx, (s >> (10 * b)) & 1023 AS band_val
       |       FROM sig CROSS JOIN (SELECT UNNEST(generate_series(0, 5)) AS b) bb),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |                a.s AS s_a, b.s AS s_b
       |         FROM ex a JOIN ex b
       |           ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |          AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(s_a, s_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(s_a, s_b)) <= 5
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir, pins) =>
    graft.functions.SimHash60.register(s)
    // persist: both band-join sides would otherwise re-tokenize + re-hash
    val sig = pins.persist(docs(s, dir)
      .select(col("doc_id"),
        graft.functions.SimHash60.simhash60(Text.tokens(col("text"))).as("s")))
    val banded = sig.select(col("doc_id"), col("s"),
      posexplode(array((0 until 6).map(i =>
        shiftright(col("s"), 10 * i).bitwiseAND(lit(1023L))): _*))
        .as(Seq("band_idx", "band_val")))
    banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.s").as("s_a"), col("b.s").as("s_b"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("s_a").bitwiseXOR(col("s_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 5)
      .orderBy("doc_a", "doc_b")
  }

  // Edit-distance fuzzy matching (the record-linkage complement to the
  // token-set measures): candidate pairs blocked on (lang, n_chars) —
  // the same cheap equi-key the Jaccard ops use, so no cross product —
  // verified by Levenshtein over the 60-char prefix of the SORTED-token
  // canonical string (order-insensitive: bag-of-words near-dups differ
  // by token order, which raw-prefix edit distance misreads as distant).
  // Integer distances, exact on both engines.
  private def levenshteinOracle(k: Int): String =
    s"""WITH n AS (SELECT doc_id, lang, n_chars,
       |  substr(array_to_string(list_sort($toksSql), ' '), 1, 60) AS canon
       |  FROM documents)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  levenshtein(a.canon, b.canon) AS edit_dist
       |FROM n a JOIN n b
       |  ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
       |WHERE levenshtein(a.canon, b.canon) <= $k
       |ORDER BY doc_a, doc_b""".stripMargin

  val levenshteinPairs: QueryDef = QueryDef.sql("q_levenshtein_pairs")(
    levenshteinOracle(18)) { (s, dir) =>
    val n = docs(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        substring(concat_ws(" ", array_sort(Text.tokens(col("text")))), 1, 60)
          .as("canon"))
    n.as("a").join(n.as("b"),
        col("a.lang") === col("b.lang") && col("a.n_chars") === col("b.n_chars") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.canon"), col("b.canon")).as("edit_dist"))
      .filter(col("edit_dist") <= 18)
      .orderBy("doc_a", "doc_b")
  }

  // The 100 TB path for q_levenshtein_pairs — SAME oracle (lossless
  // candidate generation, like q_trajectory_sim_blocked and
  // q_containment), different plan. The exact form's (lang, n_chars)
  // blocks grow ∝ n, so within-block all-pairs is quadratic by contract
  // (measured 77.9× per 10× data, BENCH_SCALE_SF10.json). This twin is
  // ED-Join's q-gram PREFIX FILTER (Xiao et al., q=2, k=18): by the
  // count-filtering theorem (Gravano et al.), ed(x,y) ≤ k ⇒ the bigram
  // MULTISETS share ≥ T = max(|Gx|,|Gy|) − k·q occurrence-numbered
  // units, and when |X ∩ Y| ≥ T ≥ 1 the (|X| − T + 1)-prefixes under
  // ANY fixed total order intersect — |X| − T + 1 ≤ k·q + 1 = 37, so
  // each doc emits only its 37 globally-RAREST (df, gram, occ) units
  // and candidates come from an equi-join on the unit (+ the block
  // keys), never an all-pairs. T ≥ 1 requires max(len) ≥ 38; pairs of
  // SHORT canons (both ≤ 37 chars — where 18 edits can rewrite the
  // whole string and no gram filter can prune) fall back to the exact
  // block join over the short slice only, a relation that holds just
  // the corpus's near-empty documents. Every candidate then pays the
  // exact levenshtein verify, so the output is IDENTICAL to the exact
  // form's — one oracle, two plans. Shuffles carry (unit, doc_id)
  // prefix rows and the ≤60-char canon strings only.
  //
  // Scale adjudication (r15, upheld r17): the ed ≤ 18 contract's OUTPUT
  // is itself quadratic — ed ≤ 18 on 60-char sorted-token canons admits
  // ~1/3 of ALL same-block pairs (sf1.0: 203,358 output rows of 642,247
  // block pairs), so Ω(output) = Ω(n²) bounds every implementation.
  // Against that bound the prefix filter is near-optimal: candidates
  // (583k at sf1.0) sit within 3× of the output itself, and measured
  // runtime grows 5.6× SLOWER than the output per decade (sf1→sf10
  // wall ratio 17.7× vs ~100× output growth). A tighter threshold —
  // not a better plan — is what shrinks this query at 100 TB: hence
  // the ed ≤ 6 twin below is the BENCHED form (its output is
  // near-linear in the corpus) and both ed ≤ 18 forms are auditOnly.
  private def edJoinPlan(s: SparkSession, dir: String, k: Int, pins: Pins): DataFrame = {
    val q = 2              // bigrams
    val pfx = k * q + 1    // prefix length |X| − T + 1 ≤ k·q + 1
    val minLong = k * q + 2 // T ≥ 1 ⇔ max(len) ≥ k·q + 2
    // referenced by units, shorts, and both verify sides
    val n = pins.persist(docs(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        substring(concat_ws(" ", array_sort(Text.tokens(col("text")))), 1, 60)
          .as("canon"))
      .withColumn("len", length(col("canon"))))
    // occurrence-numbered bigram units (the multiset→set expansion the
    // count-filter theorem is stated over)
    val grams = n.filter(col("len") >= 2)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("len"), col("canon"),
        explode(sequence(lit(1), col("len") - 1)).as("i"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("len"), col("i"),
        expr("substring(canon, i, 2)").as("gram"))
    val units = grams.withColumn("occ",
      row_number().over(Window.partitionBy("doc_id", "gram").orderBy("i")))
    // global unit order: ascending document frequency (rarest units in
    // the prefix ⇒ fewest candidates), ties by (gram, occ) — any fixed
    // total order preserves losslessness, df just buys selectivity
    val df = units.groupBy("gram", "occ").agg(count(lit(1)).as("df"))
    val prefix = units.join(df, Seq("gram", "occ"))
      .withColumn("prank", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("df"), col("gram"), col("occ"))))
      .filter(col("prank") <= pfx)
      .select("doc_id", "lang", "n_chars", "len", "gram", "occ")
    val candLong = prefix.as("a").join(prefix.as("b"),
        col("a.gram") === col("b.gram") && col("a.occ") === col("b.occ") &&
          col("a.lang") === col("b.lang") &&
          col("a.n_chars") === col("b.n_chars") &&
          col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.len"), col("b.len")) >= minLong)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // both-short pairs: T ≤ 0 ⇒ no gram filter applies; exact block
    // join over the short slice only (near-empty docs)
    val short = n.filter(col("len") <= minLong - 1)
    val candShort = short.as("a").join(short.as("b"),
        col("a.lang") === col("b.lang") &&
          col("a.n_chars") === col("b.n_chars") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    candLong.unionAll(candShort)
      .join(n.select(col("doc_id").as("doc_a"), col("canon").as("ca")), "doc_a")
      .join(n.select(col("doc_id").as("doc_b"), col("canon").as("cb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ca"), col("cb")).as("edit_dist"))
      .filter(col("edit_dist") <= k)
      .orderBy("doc_a", "doc_b")
  }

  val levenshteinPairsBanded: QueryDef =
    QueryDef.pinned("q_levenshtein_pairs_banded")(levenshteinOracle(18))(
      edJoinPlan(_, _, 18, _))

  // The benched edit-distance query: SAME ED-Join machinery, ed ≤ 8
  // (prefix k·q+1 = 17) — a threshold whose output is near-linear in
  // the corpus (sf0.1: 56 of the ed ≤ 18 contract's 669 pairs qualify;
  // matches ~exact dups and one-or-two-token edits, not a third of
  // every block), so runtime is no longer Ω(n²) by contract. ed ≤ 8
  // rather than the even tighter ed ≤ 6 because the sf0.01 correctness
  // corpus has its nearest non-identical pair at distance 8 — ≤ 6
  // would hash-match a 0-row oracle and gate nothing.
  val levenshteinPairsTight: QueryDef =
    QueryDef.pinned("q_levenshtein_pairs_tight")(levenshteinOracle(8))(
      edJoinPlan(_, _, 8, _))

  // MinHash-as-ESTIMATOR: jaccard_est = matching signature components
  // / K for every LSH candidate pair — the sketch answer that stands in
  // for exact verification at scale (q_minhash_verified is the exact
  // counterpart on the same candidates; the estimate needs only the
  // K-long signatures, never the shingle sets).
  val minhashJaccardEst: QueryDef = QueryDef.pinned("q_minhash_jaccard_est")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, $shinglesSql AS sh FROM base),
       |sig AS (SELECT doc_id, ${sigSqls.mkString(", ")} FROM sh),
       |bands AS (SELECT doc_id, ${bandSqls.mkString(", ")} FROM sig),
       |ex AS (
       |  ${(0 until K / 2).map(b => s"SELECT doc_id, $b AS band_idx, band_$b AS band_hash FROM bands")
            .mkString("\n  UNION ALL\n  ")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ex a JOIN ex b
       |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       |    AND a.doc_id < b.doc_id)
       |SELECT c.doc_a, c.doc_b,
       |  CAST(${(0 until K).map(i =>
            s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)").mkString(" + ")}
       |    AS BIGINT) AS n_match,
       |  (${(0 until K).map(i =>
            s"(CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END)").mkString(" + ")})
       |    / $K AS jaccard_est
       |FROM cand c
       |JOIN sig sa ON sa.doc_id = c.doc_a
       |JOIN sig sb ON sb.doc_id = c.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir, pins) =>
    // `sig` is referenced FOUR times (both band-join sides + sa + sb);
    // unpersisted, each reference recomputes the full tokenize→shingle→
    // K×hash chain — measured 7.4s vs 1.7s for one sig pass at sf0.1
    val sig = pins.persist(Text.minhashSigDF(Tables.documents(s, dir), "doc_id", "text", 3, K))
    val banded = sig
      .select(col("doc_id"), array(Text.lshBandCols(2, K): _*).as("bands"))
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sa = sig.toDF(sig.columns.map(c => s"a_$c"): _*)
    val sb = sig.toDF(sig.columns.map(c => s"b_$c"): _*)
    val nMatch = (0 until K).map(i =>
      when(col(s"a_sig_$i") === col(s"b_sig_$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sa, col("a_doc_id") === col("doc_a"))
      .join(sb, col("b_doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        nMatch.cast("long").as("n_match"),
        (nMatch / K).as("jaccard_est"))
      .orderBy("doc_a", "doc_b")
  }

  // Unigram Shannon entropy + perplexity per document — the
  // distributional quality signal (low entropy = repetitive/degenerate
  // text, the statistic behind perplexity-style corpus filters).
  // Float discipline: the per-term doubles (c/n)·ln(c/n) are identical
  // on both engines (same integer inputs, IEEE division, ln); the SUM's
  // accumulation order differs but its error is < 1e-13 for ≤ thousands
  // of terms of magnitude ≤ 0.4, so rounding the FINAL sum to 6 decimals
  // is order-independent. `+ 0.0` normalizes -0.0 (single-token docs:
  // -SUM(+0) = -0.0) to +0.0 so the value hash agrees.
  val tokenEntropy: QueryDef = QueryDef.sql("q_token_entropy")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tok AS (SELECT doc_id, UNNEST(toks) AS t FROM base),
       |tc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
       |tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |               COUNT(*) AS n_distinct
       |        FROM tc GROUP BY 1),
       |h AS (SELECT tc.doc_id,
       |        round(-SUM((c / n_tokens) * ln(c / n_tokens)), 6) + 0.0 AS entropy,
       |        -SUM((c / n_tokens) * ln(c / n_tokens)) AS hraw
       |      FROM tc JOIN tot USING (doc_id) GROUP BY tc.doc_id)
       |SELECT tot.doc_id, n_tokens, n_distinct, entropy,
       |  CASE WHEN n_distinct > 1 THEN round(hraw / ln(n_distinct), 6) + 0.0
       |       ELSE 0.0 END AS norm_entropy,
       |  round(exp(hraw), 6) AS ppl
       |FROM tot JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val tc = docs(s, dir)
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
    val tot = tc.groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"))
    val p = col("c") / col("n_tokens")
    val h = tc.join(tot.select("doc_id", "n_tokens"), "doc_id")
      .groupBy("doc_id")
      .agg((-sum(p * log(p))).as("hraw"))
    tot.join(h, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (round(col("hraw"), 6) + lit(0.0)).as("entropy"),
        when(col("n_distinct") > 1,
            round(col("hraw") / log(col("n_distinct")), 6) + lit(0.0))
          .otherwise(lit(0.0)).as("norm_entropy"),
        round(exp(col("hraw")), 6).as("ppl"))
      .orderBy("doc_id")
  }

  // Tokenizer-training primitive: adjacent-token pair frequencies — the
  // inner statistic of a BPE merge round. At scale this is one narrow
  // explode (each doc emits len-1 pairs) into a partial→final
  // HashAggregate on the pair string, then TakeOrderedAndProject for
  // the top-k — no corpus-wide sort. A full BPE trainer is this query
  // in a driver loop: count, merge the argmax pair, re-tokenize.
  val bpePairs: QueryDef = QueryDef.sql("q_bpe_pairs")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |p AS (SELECT UNNEST(list_transform(range(1, len(toks)),
       |        i -> toks[i] || ' ' || toks[i + 1])) AS pair
       |      FROM base WHERE len(toks) >= 2)
       |SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
       |ORDER BY n DESC, pair LIMIT 50""".stripMargin) { (s, dir) =>
    val base = docs(s, dir).select(Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    base
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(50)
  }

  // One FULL BPE merge round — q_bpe_pairs is the counting primitive;
  // this applies the training step: take the argmax pair, merge its
  // non-overlapping occurrences greedily left-to-right in every doc
  // (the exact BPE rule: in a run of consecutive matches like "a a a"
  // for pair (a,a), only even offsets merge), and recount pairs over
  // the rewritten corpus. Greedy non-overlap looks sequential but is
  // pure window algebra: consecutive-match islands via the
  // i − row_number() trick, then offset parity inside each island —
  // every window partitions by doc_id (high-cardinality, never global),
  // the argmax pair is a 1-row broadcast, and both top-k cuts are
  // TakeOrderedAndProject. A full tokenizer trainer is this query in a
  // driver loop, one merged symbol per round.
  /** One SQL merge round: CTEs taking relation `sq`(doc_id, i, t) to
    * `sq'`(doc_id, i, t) with suffix `x` on every intermediate name.
    * The Scala twin is [[bpeMergeStep]] — the round logic lives in
    * exactly two places that unroll together.
    */
  private def bpeRoundSql(x: Int, in: String, out: String): String =
    s"""p$x AS (SELECT doc_id, i, t,
       |         lead(t) OVER (PARTITION BY doc_id ORDER BY i) AS tn FROM $in),
       |cnt$x AS (SELECT t || ' ' || tn AS pair, COUNT(*) AS n
       |         FROM p$x WHERE tn IS NOT NULL GROUP BY 1),
       |best$x AS (SELECT split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b
       |         FROM cnt$x ORDER BY n DESC, pair LIMIT 1),
       |m$x AS (SELECT doc_id, i, t, tn,
       |        COALESCE(t = a AND tn = b, FALSE) AS mt FROM p$x, best$x),
       |isl$x AS (SELECT *, i - ROW_NUMBER() OVER
       |          (PARTITION BY doc_id, mt ORDER BY i) AS grp FROM m$x),
       |mk$x AS (SELECT *, mt AND (ROW_NUMBER() OVER
       |          (PARTITION BY doc_id, mt, grp ORDER BY i) - 1) % 2 = 0 AS merged
       |        FROM isl$x),
       |fin$x AS (SELECT doc_id, i,
       |          CASE WHEN merged THEN a || '_' || b ELSE t END AS t2,
       |          COALESCE(lag(merged) OVER (PARTITION BY doc_id ORDER BY i),
       |            FALSE) AS consumed
       |        FROM mk$x, best$x),
       |$out AS (SELECT doc_id, i, t2 AS t FROM fin$x WHERE NOT consumed)""".stripMargin

  private def bpeFinalSql(in: String): String =
    s"""pf AS (SELECT doc_id, t,
       |         lead(t) OVER (PARTITION BY doc_id ORDER BY i) AS tn FROM $in)
       |SELECT t || ' ' || tn AS pair, CAST(COUNT(*) AS BIGINT) AS n
       |FROM pf WHERE tn IS NOT NULL
       |GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin

  private val bpePosSql =
    s"""base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |seq1 AS (SELECT doc_id, UNNEST(generate_series(1, len(toks))) AS i,
       |               UNNEST(toks) AS t FROM base)""".stripMargin

  /** One Spark merge round over `(doc_id, i, t)` — the exact rewrite
    * [[bpeRoundSql]] declares: argmax pair (1-row broadcast), greedy
    * left-to-right non-overlapping merge via consecutive-match islands
    * (i − row_number) + offset parity, consumed-successor drop.
    */
  private def bpeMergeStep(seq: DataFrame, pins: Pins): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy("i")
    // localCheckpoint: p feeds the argmax AND the merge rewrite; left
    // lazy, each branch re-derived the whole upstream chain — and in
    // the two-round query that nested (round 2's two branches each
    // re-ran round 1's two branches: 16 Window nodes in the r16 plan).
    // Checkpointing per round is exactly what a real vocab-build loop
    // does (see q_bpe_merge_round2's scaladoc). The returned frame reads
    // this round's checkpoint; the eager checkpoint has cut the lineage
    // to the previous round's, which `seq` reads, so that one goes now
    // and a two-round build holds one checkpoint, not two.
    val p = pins.checkpoint(seq.withColumn("tn", lead(col("t"), 1).over(wDoc)))
    pins.releaseCheckpoints(seq)
    val cnt = p.filter(col("tn").isNotNull)
      .groupBy(concat(col("t"), lit(" "), col("tn")).as("pair"))
      .agg(count(lit(1)).as("n"))
    val best = cnt.orderBy(col("n").desc, col("pair")).limit(1)
      .select(split(col("pair"), " ").getItem(0).as("a"),
        split(col("pair"), " ").getItem(1).as("b"))
    val m = p.crossJoin(broadcast(best))
      .withColumn("mt", coalesce(col("t") === col("a") && col("tn") === col("b"),
        lit(false)))
    val isl = m.withColumn("grp", col("i") -
      row_number().over(Window.partitionBy("doc_id", "mt").orderBy("i")))
    val mk = isl.withColumn("merged", col("mt") &&
      (row_number().over(Window.partitionBy("doc_id", "mt", "grp").orderBy("i"))
        - 1) % 2 === 0)
    mk
      .withColumn("t2", when(col("merged"),
        concat(col("a"), lit("_"), col("b"))).otherwise(col("t")))
      .withColumn("consumed",
        coalesce(lag(col("merged"), 1).over(wDoc), lit(false)))
      .filter(!col("consumed"))
      .select(col("doc_id"), col("i"), col("t2").as("t"))
  }

  private def bpePos(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("__toks"))
      .select(col("doc_id"), posexplode(col("__toks")).as(Seq("i0", "t")))
      .select(col("doc_id"), (col("i0") + 1).as("i"), col("t"))

  private def bpeTopPairs(seq: DataFrame): DataFrame = {
    val wDoc = Window.partitionBy("doc_id").orderBy("i")
    seq.withColumn("tn", lead(col("t"), 1).over(wDoc))
      .filter(col("tn").isNotNull)
      .groupBy(concat(col("t"), lit(" "), col("tn")).as("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(20)
  }

  val bpeMergeRound: QueryDef = QueryDef.pinned("q_bpe_merge_round")(
    s"""WITH $bpePosSql,
       |${bpeRoundSql(1, "seq1", "seq2")},
       |${bpeFinalSql("seq2")}""".stripMargin) { (s, dir, pins) =>
    bpeTopPairs(bpeMergeStep(bpePos(s, dir), pins))
  }

  // TWO unrolled merge rounds — the tokenizer-training DRIVER LOOP made
  // concrete and bit-matched: round 2's argmax is computed over round
  // 1's rewritten corpus (its merged symbol can itself participate),
  // exactly like the unrolled 3-round Lloyd / PageRank oracles. A real
  // vocab build is `Iterator.iterate(pos)(bpeMergeStep)` with a
  // localCheckpoint per round.
  val bpeMergeRound2: QueryDef = QueryDef.pinned("q_bpe_merge_round2")(
    s"""WITH $bpePosSql,
       |${bpeRoundSql(1, "seq1", "seq2")},
       |${bpeRoundSql(2, "seq2", "seq3")},
       |${bpeFinalSql("seq3")}""".stripMargin) { (s, dir, pins) =>
    bpeTopPairs(bpeMergeStep(bpeMergeStep(bpePos(s, dir), pins), pins))
  }

  // Incremental dedup — the continuous-training-data shape: a small
  // incoming batch (doc_id % 10 = 0 stands in for "today's crawl") is
  // checked against the existing corpus WITHOUT ever joining the corpus
  // to itself. Candidates come from the asymmetric LSH band join
  // (incoming bands broadcast; the corpus side only shuffles on band
  // hash), then each candidate pair is scored by the MinHash Jaccard
  // estimate (matching signature components / k). At 100 TB the corpus
  // never self-joins and the incoming side is tiny — per-batch cost is
  // O(|incoming| + collisions), independent of corpus size.
  val dedupIncremental: QueryDef = QueryDef.pinned("q_dedup_incremental")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, $shinglesSql AS sh FROM base),
       |sig AS (SELECT doc_id, ${sigSqls.mkString(", ")} FROM sh),
       |bands AS (SELECT doc_id, ${bandSqls.mkString(", ")} FROM sig),
       |ex AS (
       |  ${(0 until K / 2).map(b => s"SELECT doc_id, $b AS band_idx, band_$b AS band_hash FROM bands")
            .mkString("\n  UNION ALL\n  ")}),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS doc_new, c.doc_id AS doc_corpus
       |  FROM (SELECT * FROM ex WHERE doc_id % 10 = 0) n
       |  JOIN (SELECT * FROM ex WHERE doc_id % 10 <> 0) c
       |    ON n.band_idx = c.band_idx AND n.band_hash = c.band_hash)
       |SELECT doc_new, doc_corpus,
       |  (${(0 until K).map(i => s"CASE WHEN a.sig_$i = b.sig_$i THEN 1 ELSE 0 END").mkString(" + ")}) / ${K}.0 AS est_jaccard
       |FROM cand JOIN sig a ON a.doc_id = doc_new
       |          JOIN sig b ON b.doc_id = doc_corpus
       |ORDER BY doc_new, doc_corpus""".stripMargin) { (s, dir, pins) =>
    val sig = pins.persist(Text.minhashSigDF(Tables.documents(s, dir), "doc_id", "text", 3, K))
    val banded = sig
      .select(col("doc_id"), posexplode(array(Text.lshBandCols(2, K): _*))
        .as(Seq("band_idx", "band_hash")))
    val incoming = banded.filter(col("doc_id") % 10 === 0)
    val corpus = banded.filter(col("doc_id") % 10 =!= 0)
    val cand = broadcast(incoming.as("n")).join(corpus.as("c"),
        col("n.band_idx") === col("c.band_idx") &&
          col("n.band_hash") === col("c.band_hash"))
      .select(col("n.doc_id").as("doc_new"), col("c.doc_id").as("doc_corpus"))
      .distinct()
    val est = (0 until K)
      .map(i => when(col("a.sig_" + i) === col("b.sig_" + i), 1).otherwise(0))
      .reduce(_ + _) / lit(K.toDouble)
    cand
      .join(sig.as("a"), col("doc_new") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_corpus") === col("b.doc_id"))
      .select(col("doc_new"), col("doc_corpus"), est.as("est_jaccard"))
      .orderBy("doc_new", "doc_corpus")
  }

  // STREAMING incremental dedup — q_dedup_incremental's semantics as a
  // live pipeline: "today's crawl" (doc_id % 10 = 0) arrives as a file
  // stream, each micro-batch computes signatures in one STATELESS
  // native projection (MinHashSig60 — no per-doc aggregation, so no
  // streaming state at all on the new side), fans out band keys, and
  // stream-static-joins the pre-built corpus index. Per-batch cost is
  // O(|batch| + collisions) independent of corpus size; the corpus
  // index is static and re-broadcast/shuffled per batch exactly like
  // q_stream_static_join. The per-doc rollup (candidate count, best
  // estimate, dup verdict) runs batch-side on the sink table — each
  // candidate pair is emitted exactly once in append mode, so the
  // rollup is batching-invariant by construction.
  val streamDedupLsh: QueryDef = QueryDef.sql("q_stream_dedup_lsh")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, $shinglesSql AS sh FROM base),
       |sig AS (SELECT doc_id, ${sigSqls.mkString(", ")} FROM sh),
       |bands AS (SELECT doc_id, ${bandSqls.mkString(", ")} FROM sig),
       |ex AS (
       |  ${(0 until K / 2).map(b => s"SELECT doc_id, $b AS band_idx, band_$b AS band_hash FROM bands")
            .mkString("\n  UNION ALL\n  ")}),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS doc_new, c.doc_id AS doc_corpus
       |  FROM (SELECT * FROM ex WHERE doc_id % 10 = 0) n
       |  JOIN (SELECT * FROM ex WHERE doc_id % 10 <> 0) c
       |    ON n.band_idx = c.band_idx AND n.band_hash = c.band_hash),
       |scored AS (SELECT doc_new, doc_corpus,
       |  (${(0 until K).map(i => s"CASE WHEN a.sig_$i = b.sig_$i THEN 1 ELSE 0 END").mkString(" + ")}) / ${K}.0 AS est
       |  FROM cand JOIN sig a ON a.doc_id = doc_new
       |            JOIN sig b ON b.doc_id = doc_corpus)
       |SELECT doc_new, CAST(COUNT(*) AS BIGINT) AS n_cand,
       |  MAX(est) AS best_est, MAX(est) >= 0.5 AS is_dup
       |FROM scored GROUP BY doc_new ORDER BY doc_new""".stripMargin) { (s, dir) =>
    val pairs = lshStreamPairs(
      graft.streaming.Ingest.docsStream(s, dir).filter(col("doc_id") % 10 === 0),
      Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0))
    lshDupRollup(graft.streaming.Ingest.runToMemory(pairs))
  }

  /** Candidate (doc_new, doc_corpus, est) pairs: `newDocs` (may be a
    * STREAMING relation — the whole new-doc chain is stateless) banded
    * against the static `corpusDocs` index. Shared by
    * `q_stream_dedup_lsh` and the batching-invariance spec, so the
    * query body and the proof drive one implementation.
    */
  private[graft] def lshStreamPairs(newDocs: DataFrame, corpusDocs: DataFrame): DataFrame = {
    graft.functions.MinHashSig60.register(newDocs.sparkSession)
    val corpusBands = Text.minhashSigDF(corpusDocs, "doc_id", "text", 3, K)
      .select(
        col("doc_id").as("doc_corpus") +:
          (0 until K).map(i => col(s"sig_$i")) :+
          posexplode(array(Text.lshBandCols(2, K): _*))
            .as(Seq("band_idx", "band_hash")): _*)
    val stream = newDocs
      .select(col("doc_id").as("doc_new"),
        graft.functions.MinHashSig60
          .minhashSig60(Text.tokens(col("text")), 3, K).as("__sig"))
      .select(col("doc_new"), col("__sig"),
        posexplode(Text.lshBands(col("__sig"), 2, K))
          .as(Seq("band_idx", "band_hash")))
    val est = (0 until K).map(i =>
      when(element_at(col("__sig"), i + 1) === col(s"sig_$i"), 1).otherwise(0))
      .reduce(_ + _) / lit(K.toDouble)
    stream.join(corpusBands, Seq("band_idx", "band_hash"))
      .select(col("doc_new"), col("doc_corpus"), est.as("est"))
  }

  /** Per-doc dup verdict over emitted candidate pairs — distinct-count
    * and max are idempotent under the per-band pair repetition, so the
    * rollup is batching-invariant.
    */
  private[graft] def lshDupRollup(pairs: DataFrame): DataFrame =
    pairs
      .groupBy("doc_new")
      .agg(count_distinct(col("doc_corpus")).as("n_cand"),
        max(col("est")).as("best_est"))
      .select(col("doc_new"), col("n_cand"), col("best_est"),
        (col("best_est") >= 0.5).as("is_dup"))
      .orderBy("doc_new")

  // Exact duplicated-substring detection (the "Deduplicating Training
  // Data Makes Language Models Better" statistic, approximated at
  // 8-token granularity): every 8-gram window is hashed to a 60-bit
  // numeric key; a window duplicated ACROSS documents marks its doc.
  // Per doc: total windows, cross-doc-duplicated windows, and the
  // duplicated fraction — the signal substring-dedup pipelines cut on.
  // Scale shape: the shuffle carries (doc_id, int64 hash) — never text;
  // "appears in ≥2 docs" is MIN(doc_id) <> MAX(doc_id), a primitive
  // two-phase HashAggregate with no COUNT(DISTINCT) expansion.
  private val shingles8Sql =
    """CASE WHEN len(toks) >= 8
      |  THEN list_transform(generate_series(1, len(toks) - 7), i -> array_to_string(toks[i:i+7], ' '))
      |  ELSE [array_to_string(toks, ' ')] END""".stripMargin

  /** Exact-substring dedup spans (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" ExactSubstr shape):
    * all MAXIMAL spans of ≥ L tokens, every L-token window of which
    * occurs somewhere else in the corpus (another doc OR another
    * position of the same doc) — the byte ranges that pipeline scrubs.
    *
    * Distributed suffix ordering, at fixed depth: the classical
    * suffix-array pass sorts every suffix and marks a position
    * duplicated when its sorted NEIGHBOR shares an LCP ≥ L. With the
    * sort key fixed at depth exactly L (the first L tokens of the
    * suffix), neighbor-LCP ≥ L collapses to key EQUALITY — so the sort
    * becomes a hash GROUP BY on the 60-bit window hash: the same
    * shuffle the sort would pay, minus the global order barrier, and
    * the shuffle carries (doc_id, pos, int64) — never text. Emission
    * is then per-doc run-merging (pos − row_number() run ids over a
    * doc-partitioned window; per-doc state only).
    *
    * Losslessness at the L boundary (SubstringDedupSpec pins both
    * directions): a repeated substring of length s ≥ L is EXACTLY a
    * run of s − L + 1 consecutive duplicated window starts, so its
    * maximal span is recovered with exact bounds; a repeat of length
    * L − 1 contains no duplicated window and is (correctly) silent.
    * Like ExactSubstr, adjacent runs that match DIFFERENT sources
    * merge into one span — every covered token sits inside some ≥ L
    * repeat, which is the scrub contract.
    *
    * 100 TB shape: one tokenize+hash projection pass (codegen'd native
    * expression), one hash aggregate over int64 keys with an early
    * `count >= 2` cut, one semi join back, one doc-partitioned window.
    * No all-pairs stage anywhere; the window state is one doc's
    * duplicated positions. L = 16 words here (Lee et al. use 50 BPE
    * tokens ≈ the same order of text).
    */
  private val SubL = 16

  private[graft] def substringSpans(d: DataFrame, L: Int, pins: Pins): DataFrame = {
    graft.functions.ShingleHash60.register(d.sparkSession)
    val h = pins.persist(d
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= L)
      .select(col("doc_id"),
        posexplode(graft.functions.ShingleHash60
          .shingleHash60(col("toks"), L)).as(Seq("pos0", "gh")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("gh")))
    val dup = h.groupBy("gh").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("gh")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    h.join(dup, Seq("gh"), "left_semi")
      .withColumn("run", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("run"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(L - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
      .orderBy("doc_id", "span_start")
  }

  val substringDedup: QueryDef = QueryDef.pinned("q_substring_dedup")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |long AS (SELECT doc_id, toks FROM base WHERE len(toks) >= $SubL),
       |g AS (SELECT doc_id,
       |        UNNEST(generate_series(1, len(toks) - ${SubL - 1})) AS pos,
       |        toks FROM long),
       |h AS (SELECT doc_id, pos,
       |        CAST(('0x' || substr(md5(
       |          array_to_string(toks[pos:pos+${SubL - 1}], ' ')), 1, 15))
       |          AS BIGINT) AS gh
       |      FROM g),
       |dup AS (SELECT gh FROM h GROUP BY gh HAVING COUNT(*) >= 2),
       |d AS (SELECT doc_id, pos FROM h WHERE gh IN (SELECT gh FROM dup)),
       |r AS (SELECT doc_id, pos,
       |        pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
       |          AS run FROM d)
       |SELECT doc_id, MIN(pos) AS span_start,
       |  MAX(pos) + ${SubL - 1} AS span_end,
       |  MAX(pos) + ${SubL - 1} - MIN(pos) + 1 AS span_len
       |FROM r GROUP BY doc_id, run
       |ORDER BY doc_id, span_start""".stripMargin) { (s, dir, pins) =>
    substringSpans(docs(s, dir), SubL, pins)
  }

  // Scrub twin of q_substring_dedup — the Lee et al. pipeline's actual
  // OUTPUT is the scrubbed corpus, not the span report: a token is
  // removed iff some maximal ≥L-repeat span covers its position. The
  // span relation is SHARED with q_substring_dedup (the same
  // substringSpans build — the report/delete-share-one-relation
  // discipline containment/contamination/corpus-dedup follow), so the
  // report and the scrub cannot drift. Spans within a doc can OVERLAP
  // in token coverage even though their run STARTS never do (two runs
  // of duplicated starts separated by a small gap both cover the gap's
  // neighborhood once each start is widened by L−1), so removed-token
  // counting is an interval UNION, not a sum of span_len: the classic
  // running-max island merge — prev_max = max(span_end) over the
  // preceding per-doc frame, a new island exactly when span_start
  // clears it, islands summed as max−min+1. O(spans) with one
  // doc-partitioned window pass; never the O(tokens) per-position
  // explode the 8-gram q_substring_scrub pays (spans here can be
  // document-length, so expanding them would rescan the corpus).
  // 100 TB shape: everything downstream of the shared span relation
  // shuffles (doc_id, int64, int64) triples; output is one row per doc.
  val substringDedupScrub: QueryDef = QueryDef.pinned("q_substring_dedup_scrub")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |long AS (SELECT doc_id, toks FROM base WHERE len(toks) >= $SubL),
       |g AS (SELECT doc_id,
       |        UNNEST(generate_series(1, len(toks) - ${SubL - 1})) AS pos,
       |        toks FROM long),
       |h AS (SELECT doc_id, pos,
       |        CAST(('0x' || substr(md5(
       |          array_to_string(toks[pos:pos+${SubL - 1}], ' ')), 1, 15))
       |          AS BIGINT) AS gh
       |      FROM g),
       |dup AS (SELECT gh FROM h GROUP BY gh HAVING COUNT(*) >= 2),
       |d AS (SELECT doc_id, pos FROM h WHERE gh IN (SELECT gh FROM dup)),
       |r AS (SELECT doc_id, pos,
       |        pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
       |          AS run FROM d),
       |spans AS (SELECT doc_id, MIN(pos) AS s, MAX(pos) + ${SubL - 1} AS e
       |          FROM r GROUP BY doc_id, run),
       |m AS (SELECT doc_id, s, e,
       |        MAX(e) OVER (PARTITION BY doc_id ORDER BY s
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
       |      FROM spans),
       |isl AS (SELECT doc_id, s, e,
       |        SUM(CASE WHEN prev_e IS NULL OR s > prev_e THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY doc_id ORDER BY s) AS island
       |      FROM m),
       |merged AS (SELECT doc_id, island, MIN(s) AS mn, MAX(e) AS mx
       |           FROM isl GROUP BY doc_id, island),
       |rem AS (SELECT doc_id, CAST(SUM(mx - mn + 1) AS BIGINT) AS n_removed
       |        FROM merged GROUP BY doc_id),
       |tot AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM base)
       |SELECT t.doc_id, t.n_toks, COALESCE(r2.n_removed, 0) AS n_removed,
       |  CAST(t.n_toks - COALESCE(r2.n_removed, 0) AS DOUBLE) / t.n_toks
       |    AS retention
       |FROM tot t LEFT JOIN rem r2 ON t.doc_id = r2.doc_id
       |ORDER BY t.doc_id""".stripMargin) { (s, dir, pins) =>
    substringScrubRetention(docs(s, dir), SubL, pins)
  }

  private[graft] def substringScrubRetention(d: DataFrame, L: Int, pins: Pins): DataFrame = {
    val spans = substringSpans(d, L, pins)
    val w = Window.partitionBy("doc_id").orderBy("span_start")
    val isl = spans
      .withColumn("prev_e",
        max(col("span_end")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island",
        sum(when(col("prev_e").isNull || col("span_start") > col("prev_e"), 1)
          .otherwise(0)).over(w))
    val rem = isl.groupBy(col("doc_id"), col("island"))
      .agg(min(col("span_start")).as("mn"), max(col("span_end")).as("mx"))
      .groupBy("doc_id")
      .agg(sum(col("mx") - col("mn") + 1).as("n_removed"))
    val tot = d
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_toks"))
    tot.join(rem, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        ((col("n_toks") - coalesce(col("n_removed"), lit(0L))).cast("double") /
          col("n_toks")).as("retention"))
      .orderBy("doc_id")
  }

  val dupNgramSpans: QueryDef = QueryDef.pinned("q_dup_ngram_spans")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |g AS (SELECT doc_id, UNNEST($shingles8Sql) AS g FROM base),
       |h AS (SELECT doc_id,
       |        CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS gh FROM g),
       |dup AS (SELECT gh FROM h GROUP BY gh HAVING MIN(doc_id) <> MAX(doc_id)),
       |per AS (SELECT doc_id, COUNT(*) AS n_spans,
       |          CAST(SUM(CASE WHEN gh IN (SELECT gh FROM dup) THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_dup_spans
       |        FROM h GROUP BY doc_id)
       |SELECT doc_id, n_spans, n_dup_spans,
       |  CAST(n_dup_spans AS DOUBLE) / CAST(n_spans AS DOUBLE) AS dup_frac
       |FROM per ORDER BY doc_id""".stripMargin) { (s, dir, pins) =>
    graft.functions.ShingleHash60.register(s)
    val h = pins.persist(docs(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.ShingleHash60
          .shingleHash60(Text.tokens(col("text")), 8)).as("gh")))
    val dup = h.groupBy("gh")
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("gh")
    val tot = h.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    val dups = h.join(dup, Seq("gh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
    tot.join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        (coalesce(col("n_dup_spans"), lit(0L)).cast("double") /
          col("n_spans").cast("double")).as("dup_frac"))
      .orderBy("doc_id")
  }

  // Cross-SOURCE overlap matrix — the "how much does dump A repeat
  // dump B" statistic corpus-curation reports lead with, at the same
  // 8-gram granularity as q_dup_ngram_spans. Scale shape: the
  // per-(source, gh) DISTINCT collapses within-source repetition
  // BEFORE the self-join, so the join input carries each source at
  // most once per gram; per-gram join fanout is then bounded by the
  // SOURCE-count squared — sources are a bounded metadata dimension
  // (dumps/crawls, O(100s)), not an SF-scaled one — and the shuffle
  // carries (int64, short string) rows only. Output cardinality is
  // ≤ source-pairs, tiny at any SF.
  val sourceOverlap: QueryDef = QueryDef.sql("q_source_overlap")(
    s"""WITH base AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
       |g AS (SELECT source, UNNEST($shingles8Sql) AS g FROM base),
       |h AS (SELECT DISTINCT source,
       |        CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS gh FROM g),
       |p AS (SELECT a.source AS src_a, b.source AS src_b, a.gh
       |      FROM h a JOIN h b ON a.gh = b.gh AND a.source < b.source)
       |SELECT src_a, src_b, COUNT(DISTINCT gh) AS n_shared
       |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    graft.functions.ShingleHash60.register(s)
    val h = docs(s, dir)
      .select(col("source"),
        explode(graft.functions.ShingleHash60
          .shingleHash60(Text.tokens(col("text")), 8)).as("gh"))
      .distinct()
    val a = h.select(col("source").as("src_a"), col("gh"))
    val b = h.select(col("source").as("src_b"), col("gh"))
    a.join(b, Seq("gh"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count_distinct(col("gh")).as("n_shared"))
      .orderBy("src_a", "src_b")
  }

  // DSIR-style importance weighting (Xie et al., "Data Selection for
  // Language Models via Importance Resampling"): per-doc log-likelihood
  // ratio under an add-1-smoothed TARGET unigram LM (here: the English
  // slice) vs the CORPUS LM — the score importance-resampling pipelines
  // draw against when skewing a pretraining mix toward a target domain.
  // Scale shape: ONE tokenization feeds tf, both LM dictionaries, and
  // the three corpus scalars (single 1-row broadcast); the per-doc sum
  // is the token-ordered fold (bit-stable), rounded to 6 before any
  // consumer cuts on it — the same ln/ROUND discipline as BM25. The
  // dictionaries join by token (AQE broadcasts them at small SF,
  // shuffle-joins beyond the threshold — LM vocabularies grow
  // sublinearly, so either is fine).
  val importanceWeights: QueryDef = QueryDef.pinned("q_importance_weights")(
    s"""WITH base AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
       |tok AS (SELECT doc_id, lang, UNNEST(toks) AS t FROM base),
       |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |tgt AS (SELECT t, COUNT(*) AS ct FROM tok WHERE lang = 'en' GROUP BY t),
       |corp AS (SELECT t, COUNT(*) AS cc FROM tok GROUP BY t),
       |tot AS (SELECT
       |  (SELECT COUNT(*) FROM tok WHERE lang = 'en') AS nt,
       |  (SELECT COUNT(*) FROM tok) AS nc,
       |  (SELECT COUNT(DISTINCT t) FROM tok) AS v),
       |term AS (
       |  SELECT tf.doc_id, tf.t,
       |    tf.tf * (ln((COALESCE(tgt.ct, 0) + 1.0) / (tot.nt + tot.v)) -
       |             ln((corp.cc + 1.0) / (tot.nc + tot.v))) AS w
       |  FROM tf JOIN corp ON tf.t = corp.t LEFT JOIN tgt ON tf.t = tgt.t, tot),
       |sc AS (
       |  SELECT doc_id,
       |    ROUND(list_reduce(list_prepend(0.0, list(w ORDER BY t)),
       |      (a, b) -> a + b), 6) AS weight
       |  FROM term GROUP BY doc_id)
       |SELECT b.doc_id, b.lang, sc.weight
       |FROM sc JOIN base b ON b.doc_id = sc.doc_id
       |ORDER BY b.doc_id""".stripMargin) { (s, dir, pins) =>
    val base = docs(s, dir).select(col("doc_id"), col("lang"),
      Text.tokens(col("text")).as("toks"))
    val tok = pins.persist(base.select(col("doc_id"), col("lang"), explode(col("toks")).as("t")))
    val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    // ONE per-token pass carries both LM dictionaries (corpus count +
    // conditional target count — a token with no English occurrences
    // gets ct = 0, exactly the value the old tgt LEFT JOIN coalesced
    // to), and the three corpus scalars DERIVE from it (nt = Σct,
    // nc = Σcc, v = row count) instead of a third full tok pass whose
    // count_distinct expanded every row. Exact integer aggregates —
    // bit-identical weights, two fewer passes and one fewer join
    // (guide §1.2 step 1).
    val corp = tok.groupBy(col("t").as("ct_t")).agg(
      count(lit(1)).as("cc"),
      count(when(col("lang") === "en", 1)).as("ct"))
    val tot = corp.agg(
      sum(col("ct")).as("nt"),
      sum(col("cc")).as("nc"),
      count(lit(1)).as("v"))
    val term = tf
      .join(corp, col("t") === col("ct_t"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("t"),
        (col("tf") * (log((col("ct") + 1.0) /
            (col("nt") + col("v"))) -
          log((col("cc") + 1.0) / (col("nc") + col("v"))))).as("w"))
    val sc = term.groupBy("doc_id")
      .agg(round(aggregate(
        transform(sort_array(collect_list(struct(col("t"), col("w")))),
          p => p.getField("w")),
        lit(0.0), (a, x) => a + x), 6).as("weight"))
    sc.join(base.select("doc_id", "lang"), Seq("doc_id"))
      .select("doc_id", "lang", "weight")
      .orderBy("doc_id")
  }

  // Sparse lexical retrieval through an INVERTED INDEX — the BM25-family
  // pattern without dense vectors: score(q,d) = Σ_t tf_q·tf_d / df_t²
  // (a rational idf² weight — exact integer arithmetic plus one IEEE
  // division per term, so no libm log whose last ulp could differ
  // across engines). Scale shape: the query side and the df dictionary
  // broadcast, so the corpus posting list never shuffles for the match —
  // only the (query, doc) partial scores shuffle, and the per-pair fold
  // is token-ordered for bit-stable sums.
  val tfidfRetrieval: QueryDef = QueryDef.pinned("q_tfidf_retrieval")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tok AS (SELECT doc_id, t, COUNT(*) AS tf
       |        FROM (SELECT doc_id, UNNEST(toks) AS t FROM base) u
       |        GROUP BY doc_id, t),
       |dfreq AS (SELECT t, COUNT(*) AS df FROM tok GROUP BY t),
       |q AS (SELECT doc_id AS query_id, t, tf AS tfq FROM tok WHERE doc_id < 5),
       |m AS (SELECT q.query_id, tok.doc_id, q.t,
       |        q.tfq * tok.tf * 1.0 / (dfreq.df * dfreq.df) AS term
       |      FROM q JOIN tok ON q.t = tok.t AND tok.doc_id <> q.query_id
       |      JOIN dfreq ON dfreq.t = q.t),
       |sc AS (SELECT query_id, doc_id,
       |        list_reduce(list_prepend(0.0, list(term ORDER BY t)),
       |          (a, b) -> a + b) AS score
       |       FROM m GROUP BY query_id, doc_id),
       |r AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk FROM sc)
       |SELECT query_id, doc_id, score, rnk FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin) { (s, dir, pins) =>
    val base = docs(s, dir).select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    val tok = pins.persist(base.select(col("doc_id"), explode(col("toks")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf")))
    val dfreq = tok.groupBy("t").agg(count(lit(1)).as("df"))
    val q = tok.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("t").as("qt"), col("tf").as("tfq"))
    val m = broadcast(q).join(tok.as("c"),
        col("qt") === col("c.t") && col("c.doc_id") =!= col("query_id"))
      .join(broadcast(dfreq.as("f")), col("qt") === col("f.t"))
      .select(col("query_id"), col("c.doc_id").as("doc_id"), col("qt"),
        (col("tfq") * col("c.tf") * lit(1.0) / (col("f.df") * col("f.df")))
          .as("term"))
    val sc = m.groupBy("query_id", "doc_id")
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("qt"), col("term")))),
          p => p.getField("term")),
        lit(0.0), (a, x) => a + x).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    sc.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("query_id", "doc_id", "score", "rnk")
      .orderBy("query_id", "rnk")
  }

  // BM25 ranked retrieval (Okapi, k1=1.2, b=0.75) — the
  // length-normalized, tf-saturating upgrade of q_tfidf_retrieval, and
  // the standard lexical scorer for contamination / nearest-neighbor
  // text search over a training corpus. idf = ln(1 + (N-df+0.5)/(df+0.5))
  // is bit-identical cross-engine (same integer inputs → one division →
  // ln, see q_token_entropy's float discipline); the per-document score
  // folds its per-term contributions in term order, so the double sum is
  // order-pinned on both engines. Plan shape at scale: postings
  // (doc_id, term, tf) shuffle once on term; queries, idf, and the
  // global (N, avgdl) row broadcast; per-doc length joins on doc_id —
  // no O(n²) anywhere.
  /** WITH-chain body ending at `bm25r(query_id, doc_id, score, rnk)` —
    * the full BM25 ranking of the corpus for the query docs
    * (doc_id < 5). Shared by q_bm25_retrieval and q_rrf_fusion so the
    * lexical scorer cannot drift between the plain and hybrid
    * retrievers; the Scala twin is [[bm25Ranked]].
    */
  private[catalog] val bm25RankedCte: String =
    s"""base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tok AS (SELECT doc_id, t, COUNT(*) AS tf
       |        FROM (SELECT doc_id, UNNEST(toks) AS t FROM base) u
       |        GROUP BY doc_id, t),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
       |st AS (SELECT COUNT(*) AS n_docs,
       |              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |idf AS (SELECT t, ln(1 + ((st.n_docs - df) + 0.5) / (df + 0.5)) AS idf
       |        FROM (SELECT t, COUNT(*) AS df FROM tok GROUP BY t) f, st),
       |q AS (SELECT doc_id AS query_id, t, tf AS tfq FROM tok WHERE doc_id < 5),
       |m AS (SELECT q.query_id, c.doc_id, q.t,
       |        q.tfq * (i.idf * ((c.tf * 2.2) /
       |          (c.tf + 1.2 * (0.25 + 0.75 * (d.dl / st.avgdl))))) AS term
       |      FROM q JOIN tok c ON q.t = c.t AND c.doc_id <> q.query_id
       |      JOIN idf i ON i.t = q.t
       |      JOIN dl d ON d.doc_id = c.doc_id, st),
       |sc AS (SELECT query_id, doc_id,
       |        round(list_reduce(list_prepend(0.0, list(term ORDER BY t)),
       |          (a, b) -> a + b), 6) AS score
       |       FROM m GROUP BY query_id, doc_id),
       |bm25r AS (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk FROM sc)""".stripMargin

  /** Scala twin of [[bm25RankedCte]]: the full BM25 ranking
    * `(query_id, doc_id, score, rnk)`, its term-frequency relation
    * persisted in `pins`.
    */
  private[catalog] def bm25Ranked(s: SparkSession, dir: String, pins: Pins): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    val tok = pins.persist(base.select(col("doc_id"), explode(col("toks")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf")))
    val dl = tok.groupBy("doc_id").agg(sum("tf").as("dl"))
    val st = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val idf = tok.groupBy("t").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(st.select("n_docs")))
      .select(col("t").as("it"),
        log(lit(1.0) + ((col("n_docs") - col("df")) + lit(0.5))
          / (col("df") + lit(0.5))).as("idf"))
    val q = tok.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("t").as("qt"), col("tf").as("tfq"))
    val m = broadcast(q).join(tok.as("c"),
        col("qt") === col("c.t") && col("c.doc_id") =!= col("query_id"))
      .select(col("query_id"), col("c.doc_id").as("doc_id"), col("qt"),
        col("tfq"), col("c.tf").as("tf"))
      // idf is vocabulary-sized — small enough to auto-broadcast at
      // test SF, a real shuffle at 100 TB; let AQE decide
      .join(idf, col("qt") === col("it"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(st.select("avgdl")))
      .select(col("query_id"), col("doc_id"), col("qt"),
        (col("tfq") * (col("idf") * ((col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))))
          .as("term"))
    // ln carries a last-ulp cross-engine difference on some inputs
    // (unlike single divisions), so the FINAL score is rounded to 6
    // decimals — order-independent at these magnitudes — and the rank
    // is computed over the rounded score, making the top-5 cut
    // ulp-proof too (entropy-query float discipline)
    val sc = m.groupBy("query_id", "doc_id")
      .agg(round(aggregate(
        transform(sort_array(collect_list(struct(col("qt"), col("term")))),
          p => p.getField("term")),
        lit(0.0), (a, x) => a + x), 6).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))
    sc.withColumn("rnk", row_number().over(w))
  }

  val bm25Retrieval: QueryDef = QueryDef.pinned("q_bm25_retrieval")(
    s"""WITH $bm25RankedCte
       |SELECT query_id, doc_id, score, rnk FROM bm25r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin) { (s, dir, pins) =>
    bm25Ranked(s, dir, pins).filter(col("rnk") <= 5)
      .select("query_id", "doc_id", "score", "rnk")
      .orderBy("query_id", "rnk")
  }

  // Bigram language-model scoring — per-document mean log-probability
  // under an add-one-smoothed bigram model trained on the corpus itself,
  // the cheap stand-in for the perplexity-based quality filters (CCNet
  // et al.) that rank documents by how "model-like" their text is.
  // p(t2|t1) = (c(t1,t2)+1) / (c(t1)+V); every per-bigram double is one
  // integer division + ln (bit-identical cross-engine), and the per-doc
  // sum folds in position order, so avg_logprob hash-matches exactly.
  // Scale shape: bigrams are one narrow explode; model counts are two
  // partial→final aggregates; scoring re-joins on (t1,t2) — all
  // high-cardinality equi-shuffles, no driver state.
  // WITH-chain ending at scored(doc_id, n_bigrams, avg_logprob) —
  // shared by q_bigram_lm and q_perplexity_buckets, which bucket the
  // same scores; a smoothing/fold change must reach both.
  private val bigramScoredCte: String =
    s"""WITH base AS MATERIALIZED (SELECT doc_id, $toksSql AS toks FROM documents),
       |bg AS MATERIALIZED (SELECT doc_id,
       |         UNNEST(generate_series(1, len(toks) - 1)) AS pos,
       |         UNNEST(toks[1:len(toks)-1]) AS t1,
       |         UNNEST(toks[2:len(toks)]) AS t2
       |       FROM base WHERE len(toks) >= 2),
       |c2 AS (SELECT t1, t2, COUNT(*) AS c2 FROM bg GROUP BY t1, t2),
       |c1 AS (SELECT t1, COUNT(*) AS c1 FROM bg GROUP BY t1),
       |v AS (SELECT COUNT(DISTINCT t) AS v
       |      FROM (SELECT UNNEST(toks) AS t FROM base) u),
       |lp AS (SELECT bg.doc_id, bg.pos, ln((c2.c2 + 1) / (c1.c1 + v.v)) AS lp
       |       FROM bg JOIN c2 ON bg.t1 = c2.t1 AND bg.t2 = c2.t2
       |       JOIN c1 ON bg.t1 = c1.t1, v),
       |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |        list_reduce(list_prepend(0.0, list(lp ORDER BY pos)),
       |          (a, b) -> a + b) AS sum_lp
       |       FROM lp GROUP BY doc_id),
       |scored AS (SELECT doc_id, n_bigrams,
       |        round(sum_lp / n_bigrams, 6) AS avg_logprob FROM sc)""".stripMargin

  val bigramLm: QueryDef = QueryDef.sql("q_bigram_lm")(
    s"""$bigramScoredCte
       |SELECT doc_id, n_bigrams, avg_logprob
       |FROM scored ORDER BY doc_id""".stripMargin) { (s, dir) =>
    bigramScored(s, dir).orderBy("doc_id")
  }

  /** (doc_id, n_bigrams, avg_logprob) — the Spark twin of
    * [[bigramScoredCte]].
    */
  private def bigramScored(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    val n = size(col("toks"))
    // adjacent pairs WITHOUT a per-element lambda: posexplode the n-1
    // left tokens, fetch the right token by index (codegen'd element_at
    // outside any HOF — see the interpreted-HOF re-eval trap), drop the
    // carried array before anything shuffles
    // NOT persisted: the bigram relation feeds model training (c2, c1)
    // and scoring, but the scan→tokenize→explode chain is cheap enough
    // that recomputing it 3× beats caching it (A/B at sf0.1: ~5.9s
    // recompute vs ~6.6s cached — same tradeoff as q_simhash_neardup)
    val bg = base.filter(n >= 2)
      .select(col("doc_id"), col("toks"),
        posexplode(slice(col("toks"), lit(1), n - 1)).as(Seq("pos0", "t1")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("t1"),
        element_at(col("toks"), col("pos0") + 2).as("t2"))
    val c2 = bg.groupBy("t1", "t2").agg(count(lit(1)).as("c2"))
    // c1(t1) ≡ Σ_t2 c2(t1,t2) — derive it from the MODEL-sized c2
    // instead of a second corpus pass over bg (which, unpersisted,
    // re-ran the whole tokenize→explode chain). Exact integer sum —
    // bit-identical model (guide §1.2 step 1).
    val c1 = c2.groupBy("t1").agg(sum(col("c2")).as("c1"))
    val v = base.select(explode(col("toks")).as("t"))
      .agg(count_distinct(col("t")).as("v"))
    // c2/c1 are model-sized (distinct bigrams / vocab) — auto-broadcast
    // at test SF, genuine shuffle joins at 100 TB; only the one-row V
    // is pinned broadcast
    val lp = bg.join(c2, Seq("t1", "t2"))
      .join(c1, Seq("t1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("pos"),
        log((col("c2") + lit(1)) / (col("c1") + col("v"))).as("lp"))
    val result = lp.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(
          transform(sort_array(collect_list(struct(col("pos"), col("lp")))),
            p => p.getField("lp")),
          lit(0.0), (a, x) => a + x).as("sum_lp"))
      // ln carries a last-ulp cross-engine difference on some inputs;
      // rounding the final mean to 6 decimals absorbs it (entropy-query
      // float discipline)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_lp") / col("n_bigrams"), 6).as("avg_logprob"))
    result
  }

  // CCNet-style quality bucketing over the bigram-LM scores: split the
  // corpus into approximate tertiles by avg_logprob (bucket 1 = least
  // model-like ≈ lowest quality). The scale-correct mechanics matter
  // here: an exact NTILE(3) OVER (ORDER BY score) funnels the whole
  // corpus through ONE window task, so instead the scores are rounded
  // into 2-decimal HISTOGRAM BINS, the tiny bin relation gets exact
  // cumulative counts (a window over ~hundreds of rows, not the corpus),
  // and each bin maps to the tertile its cumulative START falls in —
  // per-doc work is then a broadcast join on the bin value. Bucket
  // boundaries are bin-granular (docs sharing a bin share a bucket),
  // the documented trade for never sorting the corpus globally.
  val perplexityBuckets: QueryDef = QueryDef.pinned("q_perplexity_buckets")(
    s"""$bigramScoredCte,
       |b AS MATERIALIZED (SELECT doc_id, n_bigrams, round(avg_logprob, 2) AS bin FROM scored),
       |h AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY bin),
       |c AS (SELECT bin, n,
       |        CAST(SUM(n) OVER (ORDER BY bin) - n AS BIGINT) AS cum0 FROM h),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM h),
       |t AS (SELECT bin,
       |        CAST(LEAST(CAST(2 AS BIGINT), 3 * cum0 // nn) + 1 AS BIGINT) AS bucket
       |      FROM c, tot)
       |SELECT t.bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  min(b.bin) AS lo, max(b.bin) AS hi,
       |  CAST(SUM(b.n_bigrams) AS BIGINT) AS n_bigrams
       |FROM b JOIN t ON b.bin = t.bin
       |GROUP BY t.bucket ORDER BY t.bucket""".stripMargin) { (s, dir, pins) =>
    // localCheckpoint: b feeds the histogram AND the final bucket join;
    // left lazy each reference re-ran the whole bigram-LM pipeline
    // (tokenize → explode → model joins). Doc-grain rows — tiny.
    val b = pins.checkpoint(bigramScored(s, dir)
      .select(col("doc_id"), col("n_bigrams"), round(col("avg_logprob"), 2).as("bin")))
    val h = b.groupBy("bin").agg(count(lit(1)).as("n"))
    // exclusive cumulative count over the BIN table only — bounded by
    // the number of distinct 2-decimal bins, safe in one window task
    val c = h.withColumn("cum0",
      sum(col("n")).over(Window.orderBy("bin")) - col("n"))
    val tot = h.agg(sum(col("n")).as("nn"))
    val t = c.crossJoin(broadcast(tot))
      .select(col("bin"),
        (least(lit(2L), expr("3 * cum0 div nn")) + 1).as("bucket"))
    b.join(broadcast(t), "bin")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("bin")).as("lo"), max(col("bin")).as("hi"),
        sum(col("n_bigrams")).as("n_bigrams"))
      .orderBy("bucket")
  }

  // Substring-dedup REMOVAL — the delete twin of q_dup_ngram_spans'
  // report (Lee et al. substring dedup removes the duplicated spans,
  // not the documents): a token is scrubbed iff some cross-doc
  // duplicated 8-gram window covers its position. Coverage expands
  // each duplicated window to its ≤8 covered positions through an
  // EQUI-join-shaped explode (never a position-range theta join), and
  // per-doc removal is a distinct-position count — the shuffles carry
  // (doc_id, int64) pairs only. Output is the per-doc retention a
  // scrubbing pass would apply.
  val substringScrub: QueryDef = QueryDef.pinned("q_substring_scrub")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |w AS (SELECT doc_id, len(toks) AS n_toks,
       |        CASE WHEN len(toks) >= 8
       |          THEN list_transform(generate_series(1, len(toks) - 7),
       |                 i -> {'p': i, 'h': CAST(('0x' || substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15)) AS BIGINT)})
       |          ELSE [{'p': 1, 'h': CAST(('0x' || substr(md5(array_to_string(toks, ' ')), 1, 15)) AS BIGINT)}] END AS wins
       |      FROM base),
       |h AS (SELECT doc_id, n_toks, UNNEST(wins, recursive := true) FROM w),
       |dup AS (SELECT h AS gh FROM h GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
       |cov AS (SELECT DISTINCT doc_id,
       |          UNNEST(generate_series(p, p + least(8, n_toks) - 1)) AS cp
       |        FROM h WHERE h IN (SELECT gh FROM dup)),
       |rem AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed
       |        FROM cov GROUP BY doc_id),
       |tot AS (SELECT DISTINCT doc_id, n_toks FROM h)
       |SELECT t.doc_id, t.n_toks, COALESCE(r.n_removed, 0) AS n_removed,
       |  CAST(t.n_toks - COALESCE(r.n_removed, 0) AS DOUBLE) / t.n_toks
       |    AS retention
       |FROM tot t LEFT JOIN rem r ON t.doc_id = r.doc_id
       |ORDER BY t.doc_id""".stripMargin) { (s, dir, pins) =>
    graft.functions.ShingleHash60.register(s)
    // h carries ONLY (doc_id, pos, gh): any column derived from `text`
    // here gets project-collapsed ABOVE the Generate and re-evaluated
    // once per WINDOW row — measured 275 CPU-seconds of redundant
    // re-tokenization (size(tokens(text)) × 236k windows) before the
    // column was dropped. Short-doc capping happens at the end via
    // least(n_removed, n_toks) instead.
    val h = pins.persist(docs(s, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.ShingleHash60
          .shingleHash60(Text.tokens(col("text")), 8)))
      .withColumnRenamed("col", "gh"))
    // fill the cache EAGERLY: AQE materializes the dup-agg and coverage
    // shuffle branches concurrently, and with a lazy persist both jobs
    // race to compute the uncached tokenize+hash relation in parallel.
    // One count pays the pass once; both branches then read the cache.
    h.count()
    val dup = h.groupBy("gh")
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("gh")
    // one aggregation (count_distinct on the doc_id key) instead of a
    // global distinct THEN a count — halves the shuffles on the fanned-
    // out coverage rows. An 8-position expansion may run past the end
    // of a <8-token doc's single window; the least() below caps it.
    val rem = h.join(dup, Seq("gh"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos").cast("long"),
          col("pos").cast("long") + 7)).as("cp"))
      .groupBy("doc_id").agg(count_distinct(col("cp")).as("n_removed"))
    // totals from the narrow source projection — a distinct over the
    // exploded window relation would shuffle 50x more rows for the
    // same (doc_id, n_toks) pairs
    val tot = docs(s, dir)
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_toks"))
    tot.join(rem, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        least(coalesce(col("n_removed"), lit(0L)), col("n_toks"))
          .as("n_removed"),
        ((col("n_toks")
          - least(coalesce(col("n_removed"), lit(0L)), col("n_toks")))
          .cast("double") / col("n_toks")).as("retention"))
      .orderBy("doc_id")
  }

  // PMI collocations — the classic lexical-association statistic
  // (Church & Hanks 1990): for each adjacent token pair,
  // pmi = ln(p(ab) / (p(a)·p(b))). The corpus-wide unigram and bigram
  // counts are two map-side-combined hash aggregates over ONE persisted
  // tokenization; the totals are 1-row broadcasts; the vocabulary joins
  // broadcast (a vocabulary fits an executor even when the corpus does
  // not). The ln argument is assembled as a ratio of two left-
  // associated DOUBLE products: each count is exact in a double
  // (≪ 2^53), but the cubic product n·n_uni² would overflow BIGINT at
  // corpus scale (n_uni ≳ 3e9 on 100 TB), so every factor is promoted
  // to double BEFORE multiplying — the same op sequence on both
  // engines, hence bit-identical — and pmi is rounded to 6 decimals
  // BEFORE the rank so the top-25 cut cannot flip on a ulp. Min
  // support n ≥ 5 keeps the statistic out of the noise floor, as in
  // the original formulation.
  val pmiCollocations: QueryDef = QueryDef.pinned("q_pmi_collocations")(
    s"""WITH base0 AS (SELECT $toksSql AS toks FROM documents),
       |base AS (SELECT toks FROM base0 WHERE len(toks) >= 2),
       |uni AS (SELECT UNNEST(toks) AS t FROM base),
       |uc AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY t),
       |nu AS (SELECT COUNT(*) AS n_uni FROM uni),
       |p AS (SELECT UNNEST(list_transform(range(1, len(toks)),
       |        i -> toks[i] || ' ' || toks[i + 1])) AS pair FROM base),
       |bc AS (SELECT pair, COUNT(*) AS n FROM p GROUP BY pair),
       |nb AS (SELECT COUNT(*) AS n_bi FROM p)
       |SELECT pair, n,
       |  ROUND(LN(CAST(n AS DOUBLE) * n_uni * n_uni
       |           / (CAST(n_bi AS DOUBLE) * ua.c * ub.c)), 6) AS pmi
       |FROM bc CROSS JOIN nu CROSS JOIN nb
       |JOIN uc ua ON ua.t = split_part(pair, ' ', 1)
       |JOIN uc ub ON ub.t = split_part(pair, ' ', 2)
       |WHERE n >= 5
       |ORDER BY pmi DESC, pair LIMIT 25""".stripMargin) { (s, dir, pins) =>
    val base = pins.persist(docs(s, dir).select(Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2))
    val uni = base.select(explode(col("toks")).as("t"))
    val uc = uni.groupBy("t").agg(count(lit(1)).as("c"))
    val nu = uni.agg(count(lit(1)).as("n_uni"))
    val bi = base.select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("pr"))
      .select(col("pr.a").as("a"), col("pr.b").as("b"))
    val bc = bi.groupBy("a", "b").agg(count(lit(1)).as("n"))
    val nb = bi.agg(count(lit(1)).as("n_bi"))
    bc.filter(col("n") >= 5)
      .join(broadcast(uc.select(col("t").as("a"), col("c").as("ca"))), Seq("a"))
      .join(broadcast(uc.select(col("t").as("b"), col("c").as("cb"))), Seq("b"))
      .crossJoin(broadcast(nu))
      .crossJoin(broadcast(nb))
      .select(
        concat(col("a"), lit(" "), col("b")).as("pair"),
        col("n"),
        round(
          log(col("n").cast("double") * col("n_uni") * col("n_uni") /
            (col("n_bi").cast("double") * col("ca") * col("cb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("pair")).limit(25)
  }

  // Per-source distribution drift: KL(P_source ‖ P_corpus) over unigram
  // distributions — the mixture-monitoring statistic a training pipeline
  // watches when a new crawl/source lands (is this slice lexically like
  // the corpus, or did the mix shift?). Every count is one hash
  // aggregate over a single persisted tokenization; the vocabulary join
  // broadcasts; each KL term is p·ln(p/q) assembled as exact-integer
  // quotients (counts ≪ 2^53), and the per-source sum is a token-ordered
  // IEEE fold so partitioning can never reorder the addition. Sources
  // whose every token matches corpus frequency score ~0; drifted ones
  // rank high.
  val klDrift: QueryDef = QueryDef.pinned("q_kl_drift")(
    s"""WITH base AS (
       |  SELECT source, UNNEST(toks) AS t
       |  FROM (SELECT source, $toksSql AS toks FROM documents)),
       |st AS (SELECT source, t, COUNT(*) AS c_st FROM base GROUP BY source, t),
       |ns AS (SELECT source, COUNT(*) AS n_s FROM base GROUP BY source),
       |gt AS (SELECT t, COUNT(*) AS c_t FROM base GROUP BY t),
       |tot AS (SELECT COUNT(*) AS n_tot FROM base),
       |terms AS (
       |  SELECT st.source, st.t, ns.n_s,
       |    (CAST(c_st AS DOUBLE) / n_s)
       |      * LN(CAST(c_st * n_tot AS DOUBLE) / (n_s * c_t)) AS term
       |  FROM st JOIN gt USING (t) JOIN ns USING (source) CROSS JOIN tot)
       |SELECT source, MAX(n_s) AS n_tokens,
       |  ROUND(list_reduce(list_prepend(0.0, list(term ORDER BY t)),
       |    (a, b) -> a + b), 6) AS kl
       |FROM terms GROUP BY source ORDER BY source""".stripMargin) { (s, dir, pins) =>
    val tok = pins.persist(docs(s, dir)
      .select(col("source"), explode(Text.tokens(col("text"))).as("t")))
    val st = tok.groupBy("source", "t").agg(count(lit(1)).as("c_st"))
    val ns = tok.groupBy("source").agg(count(lit(1)).as("n_s"))
    val gt = tok.groupBy("t").agg(count(lit(1)).as("c_t"))
    val nTot = tok.agg(count(lit(1)).as("n_tot"))
    val terms = st
      .join(broadcast(gt), Seq("t"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(nTot))
      .withColumn("term",
        (col("c_st").cast("double") / col("n_s")) *
          log((col("c_st") * col("n_tot")).cast("double") /
            (col("n_s") * col("c_t"))))
      .withColumn("rank",
        row_number().over(Window.partitionBy("source").orderBy("t")))
    terms.groupBy("source")
      .agg(max(col("n_s")).as("n_tokens"),
        round(foldOrdered(col("term")), 6).as("kl"))
      .orderBy("source")
  }

  // Lexicon-based sentiment scoring (the retrieved EDBT 2016 theme —
  // large-scale sentiment analysis on Spark): per-document positive/
  // negative lexicon hit counts (with multiplicity), a smoothed
  // polarity score (pos−neg)/(pos+neg+1) — one exact-integer division,
  // bit-identical cross-engine — and an integer-comparison label. The
  // whole scorer is one narrow codegen'd projection + token filter per
  // document: embarrassingly parallel, no shuffle until the final sort.
  val sentiment: QueryDef = {
    val pos = Seq("fast", "small")
    val neg = Seq("slow", "big", "dup")
    def hits(words: Seq[String]) =
      s"len(list_filter(toks, t -> list_contains(${listLit(words)}, t)))"
    QueryDef.sql("q_sentiment")(
      s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |h AS (SELECT doc_id,
         |        CAST(${hits(pos)} AS BIGINT) AS pos_hits,
         |        CAST(${hits(neg)} AS BIGINT) AS neg_hits
         |      FROM base)
         |SELECT doc_id, pos_hits, neg_hits,
         |  ROUND(CAST(pos_hits - neg_hits AS DOUBLE) / (pos_hits + neg_hits + 1), 6) AS polarity,
         |  CASE WHEN pos_hits > neg_hits THEN 'pos'
         |       WHEN neg_hits > pos_hits THEN 'neg' ELSE 'neu' END AS label
         |FROM h ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val h = docs(s, dir)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(filter(col("toks"), t => t.isInCollection(pos))).cast("long").as("pos_hits"),
          size(filter(col("toks"), t => t.isInCollection(neg))).cast("long").as("neg_hits"))
      h.select(col("doc_id"), col("pos_hits"), col("neg_hits"),
          round((col("pos_hits") - col("neg_hits")).cast("double") /
            (col("pos_hits") + col("neg_hits") + 1), 6).as("polarity"),
          when(col("pos_hits") > col("neg_hits"), "pos")
            .when(col("neg_hits") > col("pos_hits"), "neg")
            .otherwise("neu").as("label"))
        .orderBy("doc_id")
    }
  }

  // Asymmetric near-superset detection: directed shingle-set
  // containment C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.8 with
  // |sh(A)| ≤ |sh(B)| — the quote/excerpt/boilerplate-wrapper relation
  // that symmetric Jaccard structurally misses (a 100-shingle doc fully
  // embedded in a 10 000-shingle doc has J ≈ 0.01 but C = 1.0).
  // Candidate generation is PREFIX FILTERING (SSJoin, Chaudhuri et al.
  // ICDE 2006; PPJoin, Xiao et al. WWW 2008), asymmetric form: a
  // qualifying pair must share at least one of A's n - ⌈0.8n⌉ + 1
  // RAREST shingles (global (df, shingle) order) — provably no recall
  // loss, so the result is EXACT while the equi-join runs on the rare
  // end of the df distribution: a heavy shingle reaches the join only
  // through the few docs where it ranks in the rarest 20%, which is
  // what keeps per-key cost off the df² cliff at 100 TB. Verification
  // recomputes the exact intersection restricted to candidate pairs
  // (the q_minhash_verified shape). Keep test is exact-integer
  // (inter·5 ≥ n_a·4); the reported containment is one integer
  // quotient. Shingle definition shared with the MinHash pipeline.
  /** Shared DuckDB CTE chain `base..qual`: `qual(doc_a, doc_b, n_a,
    * inter)` holds every qualifying directed containment pair — used by
    * BOTH the report (q_containment) and the scrub twin
    * (q_containment_scrub), so the pair definition cannot drift.
    */
  private val containmentCteSql =
    s"""base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |shl AS (SELECT doc_id, list_distinct(list_transform($shinglesSql,
       |          g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT))) AS sh
       |        FROM base),
       |sized AS (SELECT doc_id, len(sh) AS n, sh FROM shl),
       |ex AS (SELECT doc_id, n, UNNEST(sh) AS t FROM sized),
       |df AS (SELECT t, COUNT(*) AS df FROM ex GROUP BY 1),
       |rk AS (SELECT ex.doc_id, ex.n, ex.t,
       |         row_number() OVER (PARTITION BY ex.doc_id ORDER BY df.df, ex.t) AS r
       |       FROM ex JOIN df ON df.t = ex.t),
       |pfx AS (SELECT * FROM rk WHERE r <= n - ((4*n + 4) // 5) + 1),
       |cand AS (SELECT DISTINCT p.doc_id AS doc_a, e.doc_id AS doc_b
       |         FROM pfx p JOIN ex e ON e.t = p.t AND e.doc_id <> p.doc_id),
       |inter AS (SELECT c.doc_a, c.doc_b, ea.n AS n_a, eb2.n AS n_b, COUNT(*) AS inter
       |          FROM cand c
       |          JOIN ex ea ON ea.doc_id = c.doc_a
       |          JOIN ex eb ON eb.doc_id = c.doc_b AND eb.t = ea.t
       |          JOIN sized eb2 ON eb2.doc_id = c.doc_b
       |          GROUP BY 1, 2, 3, 4),
       |qual AS (SELECT doc_a, doc_b, n_a, inter FROM inter
       |         WHERE inter * 5 >= n_a * 4
       |           AND (n_a < n_b OR (n_a = n_b AND doc_a < doc_b)))""".stripMargin

  /** Spark side of [[containmentCteSql]]: the qualifying-pair relation
    * (the shared shingle relation is spilled to parquet internally —
    * see the comment at the spill site).
    *
    * Shingles are 60-bit hashes from the ONE-PASS native generator
    * (q_dup_ngram_spans' discipline: shuffles carry (doc_id, int64),
    * never shingle text; a hash collision folds identically on both
    * engines because the oracle applies the same md5-prefix hash before
    * ITS distinct). The first cut built string shingles with the
    * interpreted HOF generator — the tokens(text) subtree re-evaluated
    * per shingle index (PLANS.md "Perf findings" #1) put 27 s of the
    * query's 35 s at sf0.1 in shingle generation alone; this native
    * pass + long joins run the report in ~6 s.
    */
  private def containmentQual(s: SparkSession, dir: String): DataFrame = {
    graft.functions.ShingleHash60.register(s)
    // The exploded shingle relation is referenced FIVE times downstream
    // (df, prefix, candidates, both intersection legs) — reuse is
    // mandatory, but a heap persist is the wrong altitude at scale:
    // docs × shingles/doc rows live in executor memory for the whole
    // query, and the sf10 run measured the consequence (539 s wall,
    // then a task OOM on the in-session re-run — BENCH_SCALE_CURVE
    // round-11 notes). A parquet spill round-trip keeps the
    // recompute-avoidance with ZERO heap residency: columnar,
    // compressed, re-scanned in parallel per reference, and each
    // re-scan prunes to the columns that reference needs.
    // spill the PER-DOC array, explode after the rescan: with the
    // explode in the spilled plan, CollapseProject folds the
    // tokenize→shingle→distinct chain into BOTH `size(sh)` and
    // `explode(sh)` and the chain runs twice per document (the
    // q_substring_scrub re-evaluation trap; the r17 profile charged
    // ~23 task-s to this one stage at sf0.1). Exploding the scanned
    // array is a cheap long-array generate, and the array spill is
    // smaller than the exploded one.
    val perDoc = Spill.materialize(
      docs(s, dir)
        .select(col("doc_id"),
          array_distinct(graft.functions.ShingleHash60
            .shingleHash60(Text.tokens(col("text")), 3)).as("sh")))
    val ex = perDoc
      .select(col("doc_id"), size(col("sh")).as("n"), explode(col("sh")).as("t"))
    val dfreq = ex.groupBy("t").agg(count(lit(1)).as("df"))
    val pfx = ex.join(dfreq, "t")
      .withColumn("r", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("t"))))
      .filter(col("r") <= col("n") - expr("(4*n + 4) div 5") + 1)
    val cand = pfx.select(col("doc_id").as("doc_a"), col("t"))
      .join(ex.select(col("doc_id").as("doc_b"), col("t")), "t")
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // Verification at DOC grain off the spilled per-doc arrays (r18):
    // the r17 shape exploded BOTH intersection legs back to shingle
    // grain — cand ⋈ ex(doc_a) produced |cand| × n_a rows, re-shuffled
    // them on (doc_b, t), hash-aggregated the count, and ran one more
    // per-doc aggregate + join just to recover n_b (4 exchanges, and
    // the widest one carried pair × shingle rows). The per-doc shingle
    // list is already distinct and spilled, so |sh(A) ∩ sh(B)| is
    // size(array_intersect) — two doc-grain joins move each array once
    // per candidate pair (strictly fewer bytes than once per (pair,
    // shingle) row at any scale), n_a/n_b ride along, and the count is
    // identical because both sides are duplicate-free sets of the same
    // 60-bit hashes the oracle intersects.
    val docsArr = perDoc.select(col("doc_id"), col("sh"), size(col("sh")).as("n"))
    val qual = cand
      .join(docsArr.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("n").as("n_a")), "doc_a")
      .join(docsArr.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"))
      .filter(col("inter") * 5 >= col("n_a") * 4 &&
        (col("n_a") < col("n_b") ||
          (col("n_a") === col("n_b") && col("doc_a") < col("doc_b"))))
      .select("doc_a", "doc_b", "n_a", "inter")
    qual
  }

  val containment: QueryDef = QueryDef.sql("q_containment")(
    s"""WITH $containmentCteSql
       |SELECT doc_a, doc_b, n_a, inter, inter / n_a AS containment
       |FROM qual ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    containmentQual(s, dir)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("inter"),
        (col("inter") / col("n_a")).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  // The scrub twin: drop every doc that is ≥0.8-contained in an
  // equal-or-larger doc (ties keep the larger doc_id — the directed
  // qual relation already encodes that), emit the surviving ids. The
  // qualifying-pair definition is the SHARED containmentQual /
  // containmentCteSql relation, so report and delete cannot drift. The
  // anti-join is on the tiny distinct-contained-ids side — broadcast at
  // any realistic dup rate.
  val containmentScrub: QueryDef = QueryDef.sql("q_containment_scrub")(
    s"""WITH $containmentCteSql
       |SELECT doc_id FROM documents
       |WHERE doc_id NOT IN (SELECT DISTINCT doc_a FROM qual)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val qual = containmentQual(s, dir)
    val contained = qual.select(col("doc_a").as("doc_id")).distinct()
    docs(s, dir).select("doc_id")
      .join(contained, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  // Tokenizer-vocabulary coverage: per-doc out-of-vocabulary rate
  // against the corpus' own top-1000 tokens (the "will my tokenizer
  // fragment this text" audit run before committing a vocab). Vocab =
  // global token counts (map-side partial agg) → distributed top-1000
  // (TakeOrderedAndProject, ties broken by token — deterministic on
  // both engines) → broadcast membership set; the per-doc pass is then
  // one narrow aggregation, no second shuffle of token-grain data.
  // OOV rate is a single exact-integer quotient.
  val oovRate: QueryDef = QueryDef.pinned("q_oov_rate")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tok AS (SELECT doc_id, UNNEST(toks) AS t FROM base),
       |cnt AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY 1),
       |vocab AS (SELECT t FROM cnt ORDER BY c DESC, t LIMIT 1000),
       |perdoc AS (
       |  SELECT k.doc_id, COUNT(*) AS n_tokens,
       |    COUNT(*) FILTER (WHERE v.t IS NULL) AS n_oov
       |  FROM tok k LEFT JOIN vocab v ON v.t = k.t GROUP BY 1)
       |SELECT b.doc_id, COALESCE(p.n_tokens, 0) AS n_tokens,
       |  COALESCE(p.n_oov, 0) AS n_oov,
       |  CASE WHEN COALESCE(p.n_tokens, 0) = 0 THEN 0.0
       |       ELSE p.n_oov / p.n_tokens END AS oov_rate
       |FROM base b LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, dir, pins) =>
    val base = docs(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    val tok = pins.persist(base.select(col("doc_id"), explode(col("toks")).as("t")))
    val vocab = tok.groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(1000)
      .select(col("t"), lit(1).as("in_vocab"))
    val perdoc = tok.join(broadcast(vocab), Seq("t"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
    base.select("doc_id")
      .join(perdoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_oov") / col("n_tokens")).as("oov_rate"))
      .orderBy("doc_id")
  }

  // The dataset card: per-language corpus summary a model team reads
  // before training — doc counts, exact-dup rate (md5 fingerprints, the
  // q_dedup_exact definition), token volume, corpus share. ONE pass
  // over the corpus computes per-doc (lang, fp, n_tokens, n_chars);
  // per-lang partial→final aggregates collapse it to |langs| rows; the
  // corpus total broadcasts back as a 1-row crossJoin. Every ratio is a
  // single exact-integer division; avg_tokens is exact-sum ÷ count.
  val datasetCard: QueryDef = QueryDef.sql("q_dataset_card")(
    s"""WITH per AS (
       |  SELECT doc_id, lang, n_chars, md5($normSql) AS fp,
       |    len($toksSql) AS n_tokens
       |  FROM documents),
       |byl AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    COUNT(DISTINCT fp) AS n_unique,
       |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |  FROM per GROUP BY 1),
       |tot AS (SELECT COUNT(*) AS n_total FROM per)
       |SELECT lang, n_docs, n_unique,
       |  (n_docs - n_unique) / n_docs AS dup_frac,
       |  total_tokens, total_chars,
       |  total_tokens / n_docs AS avg_tokens,
       |  n_docs / n_total AS share_docs
       |FROM byl CROSS JOIN tot ORDER BY lang""".stripMargin) { (s, dir) =>
    val per = docs(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(Text.normText(col("text"))).as("fp"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    val byl = per.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"))
    val tot = per.groupBy().agg(count(lit(1)).as("n_total"))
    byl.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_unique"),
        ((col("n_docs") - col("n_unique")) / col("n_docs")).as("dup_frac"),
        col("total_tokens"), col("total_chars"),
        (col("total_tokens") / col("n_docs")).as("avg_tokens"),
        (col("n_docs") / col("n_total")).as("share_docs"))
      .orderBy("lang")
  }

  // Winnowing (the MOSS local fingerprinting algorithm): of every
  // window of w=4 consecutive 4-token-gram hashes, keep the minimal
  // hash, rightmost on ties — guaranteeing any shared run of ≥ k+w-1 =
  // 7 tokens between two documents shares at least one selected
  // fingerprint, while sampling ~2/(w+1) of the grams. Determinism
  // trick: (hash, rightmost-position) packs into ONE int64 —
  // 36-bit hash (the top 9 md5 hex chars = hash60 div 2^24) × 2^24 +
  // (2^24-1 − pos) — so a single MIN window aggregate picks the
  // rightmost minimal gram identically on both engines with no
  // engine-defined struct/arg-min tie-breaking. Bound: doc positions
  // < 2^24 grams (≈16M tokens/doc); a corpus beyond that widens the
  // key to DECIMAL. Scale shape: everything is windowed PER DOCUMENT
  // (partition by doc_id) — no global ordering, shuffle carries
  // (doc_id, int64) only; docs shorter than w grams keep their one
  // whole-doc fingerprint via the GREATEST(1, m-3) window clamp.
  /** Shared winnow-selection SQL prefix (through `sel`: DISTINCT
    * (doc_id, packed wmin)) — both winnow queries append to THIS, so
    * the selection rule cannot drift between the fingerprint dump and
    * the near-dup consumer.
    */
  private val winnowSelSql =
    s"""base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, i AS pos,
       |    CAST(('0x' || substr(md5(CASE WHEN len(toks) >= 4
       |      THEN array_to_string(toks[i:i+3], ' ')
       |      ELSE array_to_string(toks, ' ') END), 1, 9)) AS BIGINT) AS gh
       |  FROM base, UNNEST(CASE WHEN len(toks) >= 4
       |    THEN range(1, len(toks) - 2) ELSE [CAST(1 AS BIGINT)] END) AS u(i)),
       |c AS (
       |  SELECT doc_id, pos, gh * 16777216 + (16777215 - pos) AS combo,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS m
       |  FROM g),
       |w AS (
       |  SELECT doc_id, pos, m,
       |    MIN(combo) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
       |  FROM c),
       |sel AS (
       |  SELECT DISTINCT doc_id, wmin FROM w WHERE pos <= GREATEST(1, m - 3))""".stripMargin

  /** Shared winnow-selection builder: DISTINCT (doc_id, wmin). */
  private def winnowSelection(s: SparkSession, dir: String): DataFrame = {
    graft.functions.ShingleHash60.register(s)
    val wFrame = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    val wDoc = Window.partitionBy("doc_id")
    docs(s, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.ShingleHash60
          .shingleHash60(Text.tokens(col("text")), 4)).as(Seq("pos0", "gh60")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
        expr("gh60 div 16777216").as("gh"))
      .select(col("doc_id"), col("pos"),
        (col("gh") * 16777216L + (lit(16777215L) - col("pos"))).as("combo"))
      .withColumn("m", count(lit(1)).over(wDoc))
      .withColumn("wmin", min(col("combo")).over(wFrame))
      .filter(col("pos") <= greatest(lit(1L), col("m") - 3))
      .select("doc_id", "wmin").distinct()
  }

  val winnowFingerprint: QueryDef = QueryDef.sql("q_winnow_fingerprint")(
    s"""WITH $winnowSelSql
       |SELECT doc_id, 16777215 - (wmin % 16777216) AS pos, wmin // 16777216 AS gh
       |FROM sel ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
    winnowSelection(s, dir)
      .select(col("doc_id"),
        (lit(16777215L) - pmod(col("wmin"), lit(16777216L))).as("pos"),
        expr("wmin div 16777216").as("gh"))
      .orderBy("doc_id", "pos")
  }

  // The MOSS use of the selection above: candidate near-dup pairs =
  // documents sharing ≥3 selected fingerprint HASHES. The pair join is
  // an equi-join on the 36-bit fingerprint (shuffle carries (doc, int64)
  // only); per-hash fanout is what winnowing bounds by construction —
  // only ~2/(w+1) of grams are ever selected. Shares `winnowSelection` /
  // `winnowSelSql` with q_winnow_fingerprint, so detector and dump
  // cannot drift. Fingerprint-set sizes ride along for a containment
  // denominator downstream.
  val winnowNearDup: QueryDef = QueryDef.pinned("q_winnow_neardup")(
    s"""WITH $winnowSelSql,
       |fp AS (SELECT DISTINCT doc_id, wmin // 16777216 AS gh FROM sel),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |      FROM fp a JOIN fp b ON a.gh = b.gh AND a.doc_id < b.doc_id),
       |np AS (SELECT doc_a, doc_b, COUNT(*) AS n_shared FROM p GROUP BY 1, 2),
       |sz AS (SELECT doc_id, COUNT(*) AS n_fp FROM fp GROUP BY 1)
       |SELECT doc_a, doc_b, n_shared, sa.n_fp AS n_a, sb.n_fp AS n_b
       |FROM np JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
       |WHERE n_shared >= 3
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir, pins) =>
    val fp = pins.persist(winnowSelection(s, dir)
      .select(col("doc_id"), expr("wmin div 16777216").as("gh"))
      .distinct())
    val a = fp.select(col("doc_id").as("doc_a"), col("gh"))
    val b = fp.select(col("doc_id").as("doc_b"), col("gh"))
    val np = a.join(b, Seq("gh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
    val sz = fp.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    np
      .join(sz.select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")), Seq("doc_b"))
      .select("doc_a", "doc_b", "n_shared", "n_a", "n_b")
      .orderBy("doc_a", "doc_b")
  }

  lazy val all: Seq[QueryDef] = Seq(
    significantTerms, rareTerms,
    winnowFingerprint, winnowNearDup,
    tokenCount, langId, qualityScore, gopherRules, fingerprint, dedupExact,
    minhashSig, minhashPairs, minhashPairsCapped, minhashHotBuckets,
    minhashVerified, ngramJaccard, simhash,
    simhashNearDup.audit, simhash60, simhash60NearDup,
    // ed ≤ 18's OUTPUT is quadratic by contract (exact block join
    // 77.9×/decade at sf10; even the ED-Join form is Ω(output) = Ω(n²))
    // — both audit; the ed ≤ 6 twin is the benched path
    levenshteinPairs.audit, levenshteinPairsBanded.audit,
    levenshteinPairsTight,
    minhashJaccardEst, tokenEntropy, bpePairs, dedupIncremental,
    substringDedup, substringDedupScrub, dupNgramSpans, sourceOverlap,
    importanceWeights, tfidfRetrieval,
    bm25Retrieval, bigramLm, perplexityBuckets,
    qualityLogit, zipfFit, streamDedupLsh, bpeMergeRound, bpeMergeRound2,
    substringScrub, pmiCollocations, klDrift, sentiment, containment,
    containmentScrub, oovRate, datasetCard)

  // Kibana's significant_terms aggregation: which tokens are
  // OVERREPRESENTED in a foreground document set (here lang='zh')
  // relative to the rest of the corpus, scored by the signed G²
  // log-likelihood ratio over the 2×2 doc-frequency contingency table
  // (Dunning 1993 — the statistic ES uses for its default heuristics).
  // Doc-frequency grain like the real aggregation (distinct tokens per
  // doc), min_doc_count=3, direction-filtered to fg_rate > bg_rate.
  // Scale shape: one distinct-token explode → one hash-aggregate per
  // token carrying both margin counts (conditional sums, no second
  // pass), totals broadcast as a 1-row relation; the final rank window
  // sits above the (min-doc-count + direction)-filtered candidate
  // relation, the same bounded-candidate discipline as every other
  // top-k here (a production shard_size cap bounds it explicitly).
  // G² uses ln(); the last-ulp cross-engine wobble is absorbed by
  // round(6) computed BEFORE the rank window, so the cut is identical
  // on both engines (ties break by token).
  val significantTerms: QueryDef = QueryDef.sql("q_significant_terms")(
    s"""WITH base AS (
       |  SELECT doc_id, lang, list_distinct($toksSql) AS dtok FROM documents),
       |ex AS (SELECT lang, UNNEST(dtok) AS t FROM base),
       |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_all,
       |          CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS DOUBLE) AS n_fg
       |        FROM documents),
       |df AS (SELECT t,
       |         CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS DOUBLE) AS k11,
       |         CAST(SUM(CASE WHEN lang <> 'zh' THEN 1 ELSE 0 END) AS DOUBLE) AS k12
       |       FROM ex GROUP BY t),
       |cells AS (SELECT t, k11, k12, n_fg - k11 AS k21,
       |            (n_all - n_fg) - k12 AS k22, n_all AS n FROM df, tot),
       |g AS (SELECT t, k11, k12,
       |  2.0 * ((CASE WHEN k11 > 0 THEN k11 * ln(k11 * n / ((k11 + k12) * (k11 + k21))) ELSE 0.0 END)
       |       + (CASE WHEN k12 > 0 THEN k12 * ln(k12 * n / ((k11 + k12) * (k12 + k22))) ELSE 0.0 END)
       |       + (CASE WHEN k21 > 0 THEN k21 * ln(k21 * n / ((k21 + k22) * (k11 + k21))) ELSE 0.0 END)
       |       + (CASE WHEN k22 > 0 THEN k22 * ln(k22 * n / ((k21 + k22) * (k12 + k22))) ELSE 0.0 END)) AS g2,
       |  k11 / (k11 + k21) AS fg_rate, k12 / (k12 + k22) AS bg_rate FROM cells),
       |sig AS (SELECT t AS token, CAST(k11 AS BIGINT) AS fg_docs,
       |          CAST(k12 AS BIGINT) AS bg_docs, round(g2, 6) AS score
       |        FROM g WHERE k11 >= 3 AND fg_rate > bg_rate),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, token) AS rnk
       |           FROM sig)
       |SELECT token, fg_docs, bg_docs, score, rnk FROM ranked
       |WHERE rnk <= 15 ORDER BY rnk""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val ex = d.select(col("lang"),
        explode(array_distinct(Text.tokens(col("text")))).as("t"))
    val tot = d.agg(
      count(lit(1)).cast("double").as("n_all"),
      sum(when(col("lang") === "zh", 1).otherwise(0)).cast("double").as("n_fg"))
    val df = ex.groupBy("t").agg(
      sum(when(col("lang") === "zh", 1).otherwise(0)).cast("double").as("k11"),
      sum(when(col("lang") =!= "zh", 1).otherwise(0)).cast("double").as("k12"))
    val cells = df.crossJoin(broadcast(tot))
      .select(col("t"), col("k11"), col("k12"),
        (col("n_fg") - col("k11")).as("k21"),
        (col("n_all") - col("n_fg") - col("k12")).as("k22"),
        col("n_all").as("n"))
    def term(o: org.apache.spark.sql.Column, rowTot: org.apache.spark.sql.Column,
        colTot: org.apache.spark.sql.Column) =
      when(o > 0, o * log(o * col("n") / (rowTot * colTot))).otherwise(lit(0.0))
    val g = cells.select(col("t"), col("k11"), col("k12"),
      (lit(2.0) * (term(col("k11"), col("k11") + col("k12"), col("k11") + col("k21"))
        + term(col("k12"), col("k11") + col("k12"), col("k12") + col("k22"))
        + term(col("k21"), col("k21") + col("k22"), col("k11") + col("k21"))
        + term(col("k22"), col("k21") + col("k22"), col("k12") + col("k22")))).as("g2"),
      (col("k11") / (col("k11") + col("k21"))).as("fg_rate"),
      (col("k12") / (col("k12") + col("k22"))).as("bg_rate"))
    val sig = g.filter(col("k11") >= 3 && col("fg_rate") > col("bg_rate"))
      .select(col("t").as("token"), col("k11").cast("long").as("fg_docs"),
        col("k12").cast("long").as("bg_docs"), round(col("g2"), 6).as("score"))
    val w = Window.orderBy(col("score").desc, col("token"))
    sig.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 15)
      .orderBy("rnk")
  }

  // Kibana's rare_terms aggregation (the long-tail twin of terms /
  // significant_terms): buckets for values whose count is AT MOST
  // max_doc_count, ordered ascending — "what almost never happens",
  // the agg dashboards use for anomaly/typo hunting. The term here is
  // the (user, action) pair over the events stream — users who almost
  // never perform an action — the composite-key form the runtime-field
  // docs show. ES implements rare_terms with a bloom-filtered
  // two-pass to bound memory; the Spark-natural form is exact:
  // hash-aggregate counts (map-side partial agg) and a HAVING filter —
  // one shuffle on the term, the same cost class as the terms agg
  // itself, at any scale. Deterministic LIMIT (count, then term)
  // keeps the oracle stable.
  val rareTerms: QueryDef = QueryDef.sql("q_rare_terms")(
    """SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS term,
      |  COUNT(*) AS doc_count
      |FROM events GROUP BY 1 HAVING COUNT(*) <= 6
      |ORDER BY doc_count, term LIMIT 100""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(concat(col("user_id").cast("string"), lit(":"),
        col("event_type")).as("term"))
      .agg(count(lit(1)).as("doc_count"))
      .filter(col("doc_count") <= 6)
      .orderBy("doc_count", "term").limit(100)
  }
}
