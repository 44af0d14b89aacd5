package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Pins, QueryDef, Tables}
import graft.ops.Text

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond per-document scoring: near-dup clustering (connected
  * components), Gopher-style repetition filters, deterministic
  * train/val/test hash splits, stratified sampling, and fixed-width
  * token chunking.
  *
  * Scale notes are on each operator; everything here is declarative
  * DataFrame code (codegen'd built-ins, no UDFs) so Catalyst handles
  * pushdown/pruning, and each shuffle is on an explicit, high-cardinality
  * key (doc_id or a token block).
  */
object Curation {

  import TextAnalysis.{normSql, toksSql}

  // -------------------------------------------------------------------
  // Connected-components dedup clustering.
  //
  // Near-dup PAIRS (q_ngram_jaccard / q_minhash_*) are not what a
  // pipeline deletes by: transitive duplicates (A~B, B~C) must collapse
  // into ONE cluster with one canonical survivor. Edges here are the
  // exact token-Jaccard >= 0.3 pairs (same definition as
  // q_ngram_jaccard); components are found by iterative min-label
  // propagation — each round every node takes the minimum label among
  // itself and its neighbors, converging in O(component diameter)
  // rounds. Dup clusters are shallow (diameter 2-3 in practice), so a
  // handful of shuffles on doc_id suffices even at 100 TB; the
  // production-scale upgrade is the alternating large-star/small-star
  // variant (Kiveris et al.), which keeps per-round state identical in
  // shape (a (node,label) table) — plus periodic checkpointing to cut
  // lineage, which `localCheckpoint` models here.
  // edge definition shared with q_ngram_jaccard — pair relation,
  // blocking keys, and threshold all come from TextAnalysis so the two
  // queries cannot drift. The pairs come back checkpointed in `pins`,
  // `tap` applied on the checkpoint's own pass (e.g. an observe()).
  private[catalog] def jaccardPairs(s: SparkSession, dir: String, pins: Pins,
      tap: DataFrame => DataFrame = identity): DataFrame = {
    val (stats, ex) = TextAnalysis.tokenJaccardStats(s, dir, pins)
    val pairs = pins.checkpoint(tap(stats
      .filter(col("inter") / (col("n_a") + col("n_b") - col("inter"))
        >= TextAnalysis.JaccardThreshold)
      .select(col("doc_a"), col("doc_b"))))
    // localCheckpoint is eager — the pair join ran; the persisted token
    // explode backing it can go before the caller iterates
    ex.unpersist(blocking = false)
    pairs
  }

  private[catalog] val pairsSql =
    s"""${TextAnalysis.distinctTokenExSql},
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ex a JOIN ex b
       |    ON a.t = b.t AND a.lang = b.lang AND a.n_chars = b.n_chars
       |    AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
       |  HAVING COUNT(*) / (a.n + b.n - COUNT(*)) >= ${TextAnalysis.JaccardThreshold})""".stripMargin

  /** Min-label propagation with pointer jumping over an undirected pair
    * list `(doc_a, doc_b)`: returns `(doc, lbl)` where lbl is the
    * component minimum, for every node that appears in a pair. Each
    * round eagerly localCheckpoints into the caller's `pins` (cuts
    * lineage — 30 rounds of accumulated plan would swamp the analyzer).
    * Shared by q_dedup_clusters (exact-Jaccard edges) and
    * q_corpus_dedup (MinHash-LSH verified edges).
    */
  private def ccLabels(pairs: DataFrame, pins: Pins): DataFrame = {
    val Array(ca, cb) = pairs.columns
    val edges = pins.checkpoint(pairs.select(col(ca).as("src"), col(cb).as("dst"))
      .unionByName(pairs.select(col(cb).as("src"), col(ca).as("dst"))))
    // seed at min(self, neighbors) rather than self — exactly what the
    // first propagation round would compute from a self-label start, so
    // the fixed point (component minimum) is unchanged and the loop
    // converges one round earlier; labels stay node ids (self or a
    // neighbor), which the pointer-jump dereference requires
    var labels = pins.checkpoint(edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("lbl"))
      .select(col("src").as("doc"), col("lbl")))
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      // min label among self + neighbors; left join keeps isolated-round
      // nodes (none here, but the general CC contract)
      val prop = edges.join(labels.withColumnRenamed("doc", "dst2"), col("dst") === col("dst2"))
        .groupBy(col("src").as("doc")).agg(min(col("lbl")).as("plbl"))
      val m = labels.withColumnRenamed("lbl", "olbl")
        .join(prop, Seq("doc"), "left")
        .select(col("doc"),
          least(col("olbl"), coalesce(col("plbl"), col("olbl"))).as("mlbl"),
          col("olbl"))
      // pointer jump (path halving): lbl' = m(m(x)) — labels chase the
      // component minimum in O(log diameter) rounds instead of
      // O(diameter); mlbl is itself a node id, so one self-join
      // dereferences it
      val mapping = m.select(col("doc").as("mdoc"), col("mlbl").as("mmlbl"))
      // convergence is OBSERVED during the checkpoint materialization
      // (CollectMetrics accumulators on the same pass) instead of a
      // second filter-isEmpty job over the checkpointed rows — one job
      // per round, not two (the r18 graph-family job-fusion item)
      val obs = new org.apache.spark.sql.Observation(s"cc_r${rounds}_${System.nanoTime()}")
      val next = pins.checkpoint(m.join(mapping, col("mlbl") === col("mdoc"), "left")
        .select(col("doc"), coalesce(col("mmlbl"), col("mlbl")).as("lbl"), col("olbl"))
        .observe(obs, sum(when(col("lbl") =!= col("olbl"), 1L).otherwise(0L)).as("changed")))
      // sum() is null only over zero rows (labels can't be empty here,
      // but the guard keeps the general contract)
      val changed = obs.get("changed")
      converged = changed == null || changed.asInstanceOf[Number].longValue == 0L
      labels = next.select("doc", "lbl")
      rounds += 1
    }
    // a silent cap-exit would emit mid-propagation labels — multiple
    // "canonical" survivors per real cluster, over-retaining duplicates
    // undetected. Pointer jumping converges in O(log diameter), so 50
    // rounds covers any graph that fits in storage; fail loudly if not.
    require(converged, s"connected components did not converge in $rounds rounds")
    labels
  }

  val dedupClusters: QueryDef = QueryDef.pinned("q_dedup_clusters")(
    s"""WITH RECURSIVE $pairsSql,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
       |SELECT src AS doc_id, MIN(dst) AS cluster_id,
       |  CAST(src = MIN(dst) AS INT) AS is_canonical
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin) { (s, dir, pins) =>
    // the consumer reads the result (distributed, never a driver
    // collect — one row per near-dup doc, cluster-sized at 100 TB)
    // before QueryDef.run drops the iteration checkpoints
    ccLabels(jaccardPairs(s, dir, pins), pins)
      .select(col("doc").as("doc_id"), col("lbl").as("cluster_id"),
        (col("doc") === col("lbl")).cast("int").as("is_canonical"))
      .orderBy("doc_id")
  }

  // The SAME clustering through the alternating large-star/small-star
  // algorithm (Kiveris et al., "Connected Components in MapReduce and
  // Beyond") — the production-scale CC the pointer-jumping scaladoc
  // above points to. Each round is two grouped aggregations over the
  // edge list (min-neighbor per node + re-emit), state is only the
  // shrinking edge set, and convergence is a fixed point of that set —
  // O(log² n) rounds worst case, 2-3 on shallow dup clusters. Sharing
  // q_dedup_clusters' oracle pins that both algorithms produce the
  // identical clustering.
  val dedupClustersTwoStar: QueryDef =
    QueryDef.pinned("q_dedup_clusters_twostar")(dedupClusters.oracle.get) { (s, dir, pins) =>
      // edge count observed during each checkpoint materialization: the
      // convergence test below needs |next| == |edges| every round, and
      // a CollectMetrics count on the same pass replaces one count()
      // job per round (plus the initial one)
      val obs0 = new org.apache.spark.sql.Observation(
        s"ts_e0_${System.nanoTime()}")
      var edges = jaccardPairs(s, dir, pins,
        _.toDF("src", "dst").observe(obs0, count(lit(1)).as("n")))
      var edgeCount = obs0.get("n").asInstanceOf[Number].longValue

      // large-star: every node hooks its LARGER neighbors onto the min
      // of its neighborhood (incl. itself)
      def largeStar(e: DataFrame): DataFrame = {
        val both = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        val m = both.groupBy("src").agg(min(col("dst")).as("mn"))
          .select(col("src"), least(col("src"), col("mn")).as("m"))
        both.filter(col("dst") > col("src"))
          .join(m, "src")
          .select(col("dst").as("src"), col("m").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
      }
      // small-star: edges canonicalized large→small; every node hooks
      // its smaller neighbors (and itself) onto its min neighbor
      def smallStar(e: DataFrame): DataFrame = {
        val dir = e.select(greatest(col("src"), col("dst")).as("src"),
            least(col("src"), col("dst")).as("dst"))
          .filter(col("src") =!= col("dst"))
        val m = dir.groupBy("src").agg(min(col("dst")).as("m"))
        dir.join(m, "src")
          .select(col("dst").as("src"), col("m").as("dst"))
          .unionByName(m.select(col("src"), col("m").as("dst")))
          .filter(col("src") =!= col("dst"))
          .distinct()
      }

      var converged = false
      var rounds = 0
      while (!converged && rounds < 50) {
        val obs = new org.apache.spark.sql.Observation(
          s"ts_r${rounds}_${System.nanoTime()}")
        val next = pins.checkpoint(smallStar(largeStar(edges))
          .observe(obs, count(lit(1)).as("n")))
        val nextCount = obs.get("n").asInstanceOf[Number].longValue
        // multiset equality via count + ONE-sided except: both sides are
        // duplicate-free (each round ends in distinct()), so equal
        // cardinality plus next ⊆ edges ⇒ equality — half the r16
        // check's cost (it ran exceptAll in BOTH directions); the counts
        // ride the checkpoint pass, so only the final (equal-count)
        // round pays a comparison job at all
        converged = nextCount == edgeCount && next.exceptAll(edges).isEmpty
        edges = next
        edgeCount = nextCount
        rounds += 1
      }
      require(converged, s"two-star CC did not converge in $rounds rounds")
      // fixed point = star graphs: (v, componentMin) edges; the min
      // labels itself
      val labels = edges.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
        .unionByName(edges.select(col("dst").as("doc_id"), col("dst").as("cluster_id")))
        .distinct()
      // a node with two labels would mean a non-star fixed point — that
      // silently splits clusters, so fail loudly instead
      val dup = labels.groupBy("doc_id").agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
      require(dup.isEmpty, "two-star fixed point is not a star forest")
      labels
        .select(col("doc_id"), col("cluster_id"),
          (col("doc_id") === col("cluster_id")).cast("int").as("is_canonical"))
        .orderBy("doc_id")
    }

  // -------------------------------------------------------------------
  // Gopher-style repetition filters: fraction of mass in the most
  // frequent token, duplicate-bigram fraction, distinct-token ratio —
  // the "repetitious document" signals from the Gopher/MassiveText
  // rules, re-expressed as two partial-aggregating explodes (token
  // grain + bigram grain) joined on doc_id. Both aggregates map-side
  // combine before the doc_id shuffle, so per-executor state is
  // O(distinct tokens per partition), not O(corpus).
  val repetitionFilter: QueryDef = QueryDef.sql("q_repetition_filter")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tok AS (SELECT doc_id, UNNEST(toks) AS t FROM base),
       |tc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
       |tstats AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_c
       |  FROM tc GROUP BY doc_id),
       |bg AS (
       |  SELECT doc_id, UNNEST(list_transform(generate_series(1, len(toks) - 1),
       |    i -> toks[i] || ' ' || toks[i + 1])) AS b
       |  FROM base WHERE len(toks) >= 2),
       |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
       |bstats AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |    CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams
       |  FROM bc GROUP BY doc_id)
       |SELECT t.doc_id, t.n_tokens, t.n_distinct,
       |  t.n_distinct / t.n_tokens AS distinct_ratio,
       |  t.top_c / t.n_tokens AS top_token_frac,
       |  CASE WHEN b.n_bigrams > 0
       |       THEN (b.n_bigrams - b.n_distinct_bigrams) / b.n_bigrams
       |       ELSE 0.0 END AS dup_bigram_frac,
       |  CAST(t.n_distinct / t.n_tokens >= 0.2 AND t.top_c / t.n_tokens <= 0.2 AS INT) AS keep
       |FROM tstats t JOIN bstats b ON t.doc_id = b.doc_id
       |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    val tstats = base.select(col("doc_id"), explode(col("toks")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
    val bstats = base
      .select(col("doc_id"), explode(Text.wordShingles(col("toks"), 2)).as("b"))
      // single-token docs yield a 1-token "shingle" — not a bigram; the
      // oracle's lead() produces NULL there, so drop non-bigrams
      .filter(col("b").contains(" "))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"), count(lit(1)).as("n_distinct_bigrams"))
    tstats.join(bstats, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("n_distinct") / col("n_tokens")).as("distinct_ratio"),
        (col("top_c") / col("n_tokens")).as("top_token_frac"),
        when(col("n_bigrams") > 0,
          (col("n_bigrams") - col("n_distinct_bigrams")) / col("n_bigrams"))
          .otherwise(0.0).as("dup_bigram_frac"),
        (col("n_distinct") / col("n_tokens") >= 0.2 &&
          col("top_c") / col("n_tokens") <= 0.2).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // Deterministic train/val/test split: a salted 60-bit md5 hash of the
  // doc id modulo 100 buckets → 80/10/10. Pure projection (no shuffle
  // until the report aggregation); at 100 TB the same expression
  // partitions the write (`partitionBy("split")`) with zero extra
  // passes, and the split is stable across re-runs and cluster sizes —
  // the property random() cannot give.
  val hashSplit: QueryDef = QueryDef.sql("q_hash_split")(
    """WITH b AS (
      |  SELECT lang, n_chars,
      |    ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
      |      AS bucket
      |  FROM documents),
      |s AS (SELECT CASE WHEN bucket < 80 THEN 'train'
      |                  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
      |             lang, n_chars FROM b)
      |SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("bucket",
        Text.hash60(concat(lit("split:"), col("doc_id").cast("string"))) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("split", "lang")
  }

  // -------------------------------------------------------------------
  // LEAKAGE-SAFE split: q_hash_split hashes the doc id, so two near-
  // duplicate documents can land one in train and one in test — the
  // eval then scores memorization, not generalization (the classic
  // train/test contamination failure). This variant hashes the NEAR-DUP
  // CLUSTER id instead: connected components over the verified Jaccard
  // pairs label every document with its cluster minimum (docs with no
  // near-dup keep their own id), and the split decision is a function
  // of that label alone — by construction no cluster ever straddles
  // splits. Scale shape: the CC label relation is near-dup-subset-
  // sized; the corpus joins it once on doc_id (plain shuffled equi-
  // join), and the split expression stays a codegen'd projection, so
  // the only cost over q_hash_split is the one join against a relation
  // that dedup already computes. The oracle recomputes the clustering
  // via a recursive CTE and the same salted hash — a single doc in the
  // wrong split breaks the hash.
  val splitLeakageSafe: QueryDef = QueryDef.pinned("q_split_leakage_safe")(
    s"""WITH RECURSIVE $pairsSql,
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |lbl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
       |        FROM reach GROUP BY src),
       |c AS (SELECT d.doc_id, d.lang, d.n_chars,
       |        COALESCE(l.cluster_id, d.doc_id) AS cluster_id
       |      FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
       |s AS (SELECT lang, n_chars, cluster_id,
       |        ('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 100
       |          AS bucket
       |      FROM c),
       |t AS (SELECT CASE WHEN bucket < 80 THEN 'train'
       |                  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       |             lang, n_chars, cluster_id FROM s)
       |SELECT split, lang, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT cluster_id) AS n_clusters,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir, pins) =>
    val labels = ccLabels(jaccardPairs(s, dir, pins), pins)
      .select(col("doc").as("doc_id"), col("lbl"))
    Tables.documents(s, dir)
      .select("doc_id", "lang", "n_chars")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("lbl"), col("doc_id")))
      .withColumn("bucket",
        Text.hash60(concat(lit("split:"), col("cluster_id").cast("string"))) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("split", "lang")
  }

  // -------------------------------------------------------------------
  // Stratified deterministic sampling: 10% per language stratum, ranked
  // by a salted hash so the sample is reproducible. The window is
  // per-stratum — at scale the rank shuffle partitions by lang (few
  // strata => use the two-phase trick: pre-aggregate stratum sizes,
  // broadcast them, and filter on hash < threshold instead of ranking;
  // that variant is ScaleTechniquesSpec material — the rank form is the
  // exact-count contract).
  val sampleStratified: QueryDef = QueryDef.sql("q_sample_stratified")(
    """WITH h AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
      |  FROM documents),
      |r AS (SELECT doc_id, lang,
      |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn,
      |        COUNT(*) OVER (PARTITION BY lang) AS n
      |      FROM h)
      |SELECT doc_id, lang FROM r WHERE rn <= CEIL(0.1 * n)
      |ORDER BY lang, doc_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("lang").orderBy("hv", "doc_id")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        Text.hash60(concat(lit("samp:"), col("doc_id").cast("string"))).as("hv"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      .filter(col("rn") <= ceil(lit(0.1) * col("n")))
      .select("doc_id", "lang")
      .orderBy("lang", "doc_id")
  }

  // -------------------------------------------------------------------
  // Fixed-width token chunking with overlap (training-sequence
  // preparation): windows of 40 tokens at stride 20, trailing partial
  // kept. One generator per document (posexplode of the start
  // positions) — the token array is materialized once per doc in its
  // own projection, then sliced per window; no shuffle at all until a
  // downstream consumer groups. Chunk identity is the 60-bit
  // fingerprint of the window text, so exact chunk-level dedup composes
  // directly on top.
  private val ChunkW = 40
  private val ChunkS = 20

  val docChunks: QueryDef = QueryDef.sql("q_doc_chunks")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |starts AS (
       |  SELECT doc_id, toks, len(toks) AS n, UNNEST(generate_series(1, len(toks), $ChunkS))
       |    AS chunk_start
       |  FROM base WHERE len(toks) > 0)
       |SELECT doc_id,
       |  CAST((chunk_start - 1) // $ChunkS AS BIGINT) AS chunk_idx,
       |  CAST(chunk_start AS BIGINT) AS chunk_start,
       |  CAST(LEAST($ChunkW, n - chunk_start + 1) AS BIGINT) AS n_chunk_tokens,
       |  ('0x' || substr(md5(array_to_string(list_slice(toks, chunk_start,
       |      chunk_start + ${ChunkW - 1}), ' ')), 1, 15))::BIGINT AS chunk_fp
       |FROM starts ORDER BY doc_id, chunk_start""".stripMargin) { (s, dir) =>
    // input-sized partitions for the tokenize+window-hash CPU and the
    // chunk-grain final sort (several chunk rows per doc, so per-task
    // sort volume would otherwise outgrow the in-memory tier first
    // among the text queries — Tables.scaledPartitions scaladoc)
    val nParts = Tables.scaledPartitions(s, dir, "documents")
    // empty-docs exclusion folded into the explode (empty sequence →
    // row vanishes), NOT a filter: `.filter(size(toks) > 0)` pushes
    // below the exchange by substitution and runs the regex tokenize
    // twice per doc (the q_decontaminate finding)
    Tables.documents(s, dir)
      .repartition(nParts, col("doc_id"))
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"),
        explode(when(size(col("toks")) > 0,
            sequence(lit(1), size(col("toks")), lit(ChunkS)))
          .otherwise(array().cast("array<int>"))).as("chunk_start"))
      .select(col("doc_id"),
        (((col("chunk_start") - 1) / ChunkS).cast("long")).as("chunk_idx"),
        col("chunk_start").cast("long").as("chunk_start"),
        least(lit(ChunkW), col("n") - col("chunk_start") + 1).cast("long")
          .as("n_chunk_tokens"),
        Text.hash60(concat_ws(" ", slice(col("toks"), col("chunk_start"), lit(ChunkW))))
          .as("chunk_fp"))
      .repartitionByRange(nParts, col("doc_id"), col("chunk_start"))
      .sortWithinPartitions("doc_id", "chunk_start")
  }

  // -------------------------------------------------------------------
  // PII redaction: emails and phone numbers replaced with typed
  // placeholders before the text enters a training corpus. The corpus
  // tables carry no contact strings, so the query CONSTRUCTS a
  // deterministic contact line per event from real columns and then
  // redacts it — the operator under test is the regexp chain (pure
  // codegen'd projection; the same two regexes at 100 TB run inside the
  // scan stage). Counts prove each pattern fired exactly once per row.
  val piiRedact: QueryDef = QueryDef.sql("q_pii_redact")(
    """WITH c AS (
      |  SELECT event_id,
      |    'contact user' || CAST(user_id AS VARCHAR) || ' at user' ||
      |    CAST(user_id AS VARCHAR) || '@example.com or +1-555-' ||
      |    lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') AS txt
      |  FROM events WHERE event_id < 1000)
      |SELECT event_id,
      |  regexp_replace(regexp_replace(txt,
      |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
      |    '\+1-555-[0-9]{4}', '[PHONE]', 'g') AS redacted,
      |  len(regexp_extract_all(txt, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
      |    AS n_emails,
      |  len(regexp_extract_all(txt, '\+1-555-[0-9]{4}')) AS n_phones
      |FROM c ORDER BY event_id""".stripMargin) { (s, dir) =>
    val emailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phonePat = "\\+1-555-[0-9]{4}"
    Tables.events(s, dir)
      .filter(col("event_id") < 1000)
      .select(col("event_id"),
        concat(lit("contact user"), col("user_id").cast("string"),
          lit(" at user"), col("user_id").cast("string"),
          lit("@example.com or +1-555-"),
          lpad((col("event_id") % 10000).cast("string"), 4, "0")).as("txt"))
      .select(col("event_id"),
        regexp_replace(regexp_replace(col("txt"), emailPat, "[EMAIL]"),
          phonePat, "[PHONE]").as("redacted"),
        regexp_count(col("txt"), lit(emailPat)).as("n_emails"),
        regexp_count(col("txt"), lit(phonePat)).as("n_phones"))
      .orderBy("event_id")
  }

  // -------------------------------------------------------------------
  // Corpus-statistics quality score (the unigram-LM-lite signal real
  // curation pipelines compute): global token frequencies, then each
  // document scored by its mean token rarity (1/corpus_count, folded in
  // token-position order so the IEEE sum is engine-identical). At scale
  // the frequency table is a broadcast dictionary — the corpus shuffles
  // once to build it and never again.
  val idfQuality: QueryDef = QueryDef.sql("q_idf_quality")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |tok AS (SELECT doc_id, UNNEST(toks) AS t,
       |               UNNEST(generate_series(1, len(toks))) AS pos FROM base),
       |freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
       |scored AS (
       |  SELECT tok.doc_id,
       |    list_reduce(list_prepend(0.0, list(1.0 / freq.c ORDER BY tok.pos)),
       |      (a, b) -> a + b) AS rarity_sum,
       |    COUNT(*) AS n_tokens
       |  FROM tok JOIN freq ON tok.t = freq.t GROUP BY tok.doc_id)
       |SELECT doc_id, n_tokens, rarity_sum / n_tokens AS mean_rarity
       |FROM scored ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    val tok = base.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("pos0", "t")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("t"))
    val freq = tok.groupBy("t").agg(count(lit(1)).as("c"))
    tok.join(broadcast(freq), "t")
      .groupBy("doc_id")
      .agg(collect_list(struct(col("pos"), (lit(1.0) / col("c")).as("r"))).as("pairs"),
        count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        (aggregate(transform(sort_array(col("pairs")), p => p.getField("r")),
          lit(0.0), (a, x) => a + x) / col("n_tokens")).as("mean_rarity"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // Benchmark-contamination check: fraction of each training document's
  // distinct 3-gram shingles that collide with a held-out benchmark set
  // (here: doc_id < 10 stands in for the eval corpus). The benchmark
  // shingle set is tiny → broadcast; the corpus side aggregates its own
  // shingles once — the decontamination join every serious training
  // pipeline runs before a data release.
  /** WITH-chain body ending at `agg(doc_id, n_shingles, n_contaminated)`
    * — per-train-doc distinct-3-gram overlap vs the benchmark set.
    * Shared by q_contamination (the report) and q_decontaminate (the
    * delete) so the two cannot drift; the Scala twin is
    * [[contaminationAgg]].
    */
  private val contaminationAggCte: String =
    s"""base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |sh AS (SELECT doc_id, UNNEST(list_transform(generate_series(1, len(toks) - 2),
       |         i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS s
       |       FROM base WHERE len(toks) >= 3),
       |dsh AS (SELECT DISTINCT doc_id, s FROM sh),
       |bench AS (SELECT DISTINCT s FROM dsh WHERE doc_id < 10),
       |agg AS (
       |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
       |    CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_contaminated
       |  FROM dsh t LEFT JOIN bench b ON t.s = b.s
       |  WHERE t.doc_id >= 10 GROUP BY t.doc_id)""".stripMargin

  /** Scala twin of [[contaminationAggCte]]. */
  private def contaminationAgg(s: SparkSession, dir: String): DataFrame = {
    // ONE corpus pass: the train side left-joins the (tiny, broadcast)
    // benchmark shingle set and aggregates totals + hits together — the
    // three-branch formulation (hits join + totals + reconcile) would
    // re-tokenize the corpus per branch. DISTINCT(doc_id, s) ≡ per-doc
    // distinct shingles, so array_distinct BEFORE the explode dedups
    // with zero shuffle — and the surviving groupBy(doc_id) reuses the
    // input-sized hash partitioning on doc_id (broadcast join and
    // explode preserve it), so the whole corpus side is shuffle-free
    // past the initial repartition
    val nParts = Tables.scaledPartitions(s, dir, "documents")
    // the < 3-token exclusion is folded INTO the shingle expression
    // (empty array → explode drops the doc) rather than written as a
    // filter: `.filter(size(tokens) >= 3)` pushes below the exchange
    // by expression substitution, so the regex tokenize would execute
    // TWICE per doc — once in the pushed-down filter under the
    // shuffle, once in this projection (measured: the sf10 scan stage
    // alone paid 300 task-seconds of duplicate tokenization)
    val dsh = Tables.documents(s, dir)
      .repartition(nParts, col("doc_id"))
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(
          when(size(col("toks")) >= 3, Text.wordShingles(col("toks"), 3))
            .otherwise(array().cast("array<string>")))).as("s"))
    // benchmark branch: the doc_id < 10 filter pushes below the shingle
    // explode to the scan, so only the 10 eval docs are tokenized here
    val bench = dsh.filter(col("doc_id") < 10).select("s").distinct()
      .withColumn("__hit", lit(1))
    dsh.filter(col("doc_id") >= 10)
      .join(broadcast(bench), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).as("n_contaminated"))
  }

  val contamination: QueryDef = QueryDef.sql("q_contamination")(
    s"""WITH $contaminationAggCte
       |SELECT doc_id, n_shingles, n_contaminated,
       |  n_contaminated / n_shingles AS contamination_ratio
       |FROM agg ORDER BY doc_id""".stripMargin) { (s, dir) =>
    contaminationAgg(s, dir)
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        (col("n_contaminated") / col("n_shingles")).as("contamination_ratio"))
      .orderBy("doc_id")
  }

  // The DELETE twin of q_contamination — the decontamination step a
  // corpus actually ships through: train docs whose distinct-3-gram
  // benchmark overlap reaches 5% are dropped, the rest are emitted as
  // the surviving corpus. The keep test is exact integer arithmetic
  // (hits·20 ≥ total ⟺ ratio ≥ 0.05) so no float boundary can flip a
  // doc; docs too short to shingle cannot be contaminated and survive
  // via the anti join (absent from agg ⇒ not dropped). Shares
  // [[contaminationAggCte]]/[[contaminationAgg]] with the report, so
  // report and delete cannot disagree on what is contaminated.
  val decontaminate: QueryDef = QueryDef.sql("q_decontaminate")(
    s"""WITH $contaminationAggCte,
       |dropped AS (SELECT doc_id FROM agg WHERE n_contaminated * 20 >= n_shingles)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d
       |WHERE d.doc_id >= 10
       |  AND d.doc_id NOT IN (SELECT doc_id FROM dropped)
       |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    // materialize the dropped-id set through a spill before the anti
    // join: it is output-small (one id per contaminated doc) but its
    // PLANNED size estimate sits behind the whole tokenize+explode+agg
    // pipeline, so AQE first materializes it as a broadcast-candidate
    // stage, then demotes the join to sort-merge and RE-RUNS the
    // pipeline inside the join stage — measured at sf10 as two ~1050
    // task-second twins of the same work. A rescan of the spilled
    // relation has a known tiny size: the pipeline runs exactly once
    // and the anti join broadcasts for real.
    val dropped = graft.core.Spill.materialize(
      contaminationAgg(s, dir)
        .filter(col("n_contaminated") * 20 >= col("n_shingles"))
        .select("doc_id"))
    Tables.documents(s, dir)
      .filter(col("doc_id") >= 10)
      .join(dropped, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------------
  // Curation funnel: the end-to-end keep/drop report a corpus release
  // ships with — documents flow through min-length → language-ID →
  // repetition → exact-dedup stages, and the output is per-stage
  // in/out/dropped counts. All four signals come from ONE metrics pass
  // (token aggregate + doc-level projections + a dedup rank window);
  // the funnel itself is a single-row aggregate unpivoted to stage
  // grain, so adding stages never adds corpus passes.
  private val langsHitsSql = Text.langStopwords.map { case (_, words) =>
    s"len(list_filter(toks, t -> list_contains(${words.map(w => s"'$w'").mkString("[", ", ", "]")}, t)))"
  }.mkString("GREATEST(", ", ", ")")

  val filterFunnel: QueryDef = QueryDef.sql("q_filter_funnel")(
    s"""WITH base AS (
       |  SELECT doc_id, $toksSql AS toks,
       |    md5($normSql) AS fp
       |  FROM documents),
       |tok AS (SELECT doc_id, UNNEST(toks) AS t FROM base),
       |tc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
       |tstat AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    CAST(MAX(c) AS BIGINT) AS top_c
       |  FROM tc GROUP BY doc_id),
       |m AS (
       |  SELECT b.doc_id, COALESCE(t.n_tokens, 0) AS n_tokens,
       |    COALESCE(t.top_c, 0) AS top_c, $langsHitsSql AS lang_hits,
       |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY b.doc_id) AS dup_rank
       |  FROM base b LEFT JOIN tstat t ON b.doc_id = t.doc_id),
       |f AS (
       |  SELECT doc_id,
       |    n_tokens >= 20 AS p1,
       |    n_tokens >= 20 AND lang_hits >= 1 AS p2,
       |    n_tokens >= 20 AND lang_hits >= 1 AND top_c <= 0.2 * n_tokens AS p3,
       |    n_tokens >= 20 AND lang_hits >= 1 AND top_c <= 0.2 * n_tokens
       |      AND dup_rank = 1 AS p4
       |  FROM m),
       |c AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
       |    CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
       |    CAST(SUM(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
       |    CAST(SUM(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) AS c4
       |  FROM f)
       |SELECT * FROM (
       |  SELECT 1 AS stage_idx, 'min_length' AS stage, n0 AS n_in, c1 AS n_out,
       |    n0 - c1 AS n_dropped FROM c
       |  UNION ALL SELECT 2, 'lang_id', c1, c2, c1 - c2 FROM c
       |  UNION ALL SELECT 3, 'repetition', c2, c3, c2 - c3 FROM c
       |  UNION ALL SELECT 4, 'exact_dedup', c3, c4, c3 - c4 FROM c) t
       |ORDER BY stage_idx""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"),
        md5(Text.normText(col("text"))).as("fp"))
    val tstat = base.select(col("doc_id"), explode(col("toks")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("top_c"))
    val langHits = greatest(Text.langScores(col("toks")).map(_._2): _*)
    val wDup = Window.partitionBy("fp").orderBy("doc_id")
    val m = base
      .join(tstat, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("top_c"), lit(0L)).as("top_c"),
        langHits.as("lang_hits"),
        row_number().over(wDup).as("dup_rank"))
    val p1 = col("n_tokens") >= 20
    val p2 = p1 && col("lang_hits") >= 1
    val p3 = p2 && col("top_c") <= lit(0.2) * col("n_tokens")
    val p4 = p3 && col("dup_rank") === 1
    def cnt(p: org.apache.spark.sql.Column) = sum(when(p, 1).otherwise(0))
    val c = m.agg(count(lit(1)).as("n0"), cnt(p1).as("c1"), cnt(p2).as("c2"),
      cnt(p3).as("c3"), cnt(p4).as("c4"))
    c.select(explode(array(
        struct(lit(1).as("stage_idx"), lit("min_length").as("stage"),
          col("n0").as("n_in"), col("c1").as("n_out"),
          (col("n0") - col("c1")).as("n_dropped")),
        struct(lit(2).as("stage_idx"), lit("lang_id").as("stage"),
          col("c1").as("n_in"), col("c2").as("n_out"),
          (col("c1") - col("c2")).as("n_dropped")),
        struct(lit(3).as("stage_idx"), lit("repetition").as("stage"),
          col("c2").as("n_in"), col("c3").as("n_out"),
          (col("c2") - col("c3")).as("n_dropped")),
        struct(lit(4).as("stage_idx"), lit("exact_dedup").as("stage"),
          col("c3").as("n_in"), col("c4").as("n_out"),
          (col("c3") - col("c4")).as("n_dropped")))).as("r"))
      .select(col("r.*"))
      .orderBy("stage_idx")
  }

  // -------------------------------------------------------------------
  // Domain-mixing quotas: given per-source mixing weights, compute the
  // largest total corpus consistent with every source's supply and each
  // source's integer keep-quota, then take each quota deterministically
  // by salted-hash rank. ALL quota arithmetic is integer (n·W // w,
  // w·N // W), so the plan is engine-exact and — more importantly —
  // reproducible across reruns and cluster sizes: the mixed corpus is a
  // pure function of the data and the weights. The per-source table is
  // tiny (one row per source) so every scalar join broadcasts.
  val domainMix: QueryDef = QueryDef.sql("q_domain_mix")(
    """WITH d AS (
      |  SELECT doc_id, source,
      |    (CAST(substr(source, 4) AS INT) % 3) + 1 AS w
      |  FROM documents),
      |t AS (SELECT source, CAST(ANY_VALUE(w) AS BIGINT) AS w, COUNT(*) AS n
      |      FROM d GROUP BY source),
      |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM t),
      |nmax AS (SELECT CAST(MIN(n * tw // w) AS BIGINT) AS nn FROM t, tot),
      |k AS (SELECT source, w, n, CAST(w * nn // tw AS BIGINT) AS n_quota
      |      FROM t, tot, nmax),
      |r AS (SELECT d.doc_id, d.source,
      |        ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY
      |          ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
      |          doc_id) AS rn
      |      FROM d),
      |kept AS (SELECT r.source, COUNT(*) AS n_kept
      |         FROM r JOIN k ON r.source = k.source AND r.rn <= k.n_quota
      |         GROUP BY r.source)
      |SELECT k.source, k.w, k.n AS n_docs, COALESCE(kept.n_kept, 0) AS n_kept
      |FROM k LEFT JOIN kept ON k.source = kept.source
      |ORDER BY k.source""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        ((substring(col("source"), 4, 10).cast("int") % 3) + 1).as("w"))
    val t = d.groupBy("source")
      .agg(first(col("w")).cast("long").as("w"), count(lit(1)).as("n"))
    val tot = t.agg(sum(col("w")).as("tw"))
    val nmax = t.crossJoin(broadcast(tot))
      .agg(min(expr("n * tw div w")).as("nn"))
    val k = t.crossJoin(broadcast(tot)).crossJoin(broadcast(nmax))
      .select(col("source"), col("w"), col("n"),
        expr("w * nn div tw").as("n_quota"))
    val wRank = Window.partitionBy("source").orderBy(
      Text.hash60(concat(lit("mix:"), col("doc_id").cast("string"))).asc,
      col("doc_id").asc)
    val kept = d.withColumn("rn", row_number().over(wRank))
      .join(broadcast(k.select(col("source"), col("n_quota"))), "source")
      .filter(col("rn") <= col("n_quota"))
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    k.join(kept, Seq("source"), "left")
      .select(col("source"), col("w"), col("n").as("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("source")
  }

  // Temperature-scaled mixing weights (the multinomial-sampling side of
  // data mixing, α = 0.5): raw per-source counts are flattened to
  // w_s = ⌊√n_s · 1000⌋ so large sources stop dominating, then the same
  // integer largest-feasible-corpus arithmetic as q_domain_mix turns
  // them into exact keep-quotas (nn = min over sources of n·W//w,
  // quota = w·nn//W). √ is IEEE-correctly-rounded on both engines and
  // immediately floored to an integer basis, so every downstream number
  // is engine-exact integer math — the mix is a pure function of the
  // data and α. Per-source relation is one row per source: every join
  // broadcasts, nothing corpus-sized shuffles.
  val domainMixTemp: QueryDef = QueryDef.sql("q_domain_mix_temp")(
    """WITH t AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      |           FROM documents GROUP BY source),
      |w AS (SELECT source, n,
      |        CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS w FROM t),
      |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM w),
      |nmax AS (SELECT CAST(MIN(n * tw // w) AS BIGINT) AS nn FROM w, tot),
      |k AS (SELECT source, n, w, CAST(w * nn // tw AS BIGINT) AS n_quota
      |      FROM w, tot, nmax)
      |SELECT source, n AS n_docs, w, n_quota FROM k
      |ORDER BY source""".stripMargin) { (s, dir) =>
    val t = Tables.documents(s, dir)
      .groupBy("source").agg(count(lit(1)).as("n"))
    val w = t.select(col("source"), col("n"),
      floor(sqrt(col("n").cast("double")) * 1000).as("w"))
    val tot = w.agg(sum(col("w")).as("tw"))
    val nmax = w.crossJoin(broadcast(tot))
      .agg(min(expr("n * tw div w")).as("nn"))
    w.crossJoin(broadcast(tot)).crossJoin(broadcast(nmax))
      .select(col("source"), col("n").as("n_docs"), col("w"),
        expr("w * nn div tw").as("n_quota"))
      .orderBy("source")
  }

  // Serpentine shard assignment — the "write N balanced training shards"
  // step after curation. Docs are ranked globally by cost (n_chars desc,
  // doc_id tie-break) and dealt boustrophedon across 8 shards: pass
  // p = (rn-1)//8 runs left-to-right when even, right-to-left when odd,
  // so each shard receives one doc per pass and alternates between the
  // pass's cheap and expensive end — totals stay within one doc of each
  // other without any sequential greedy state. The global rank uses
  // ops.GlobalIndex (range-sort + per-partition offsets), NEVER a
  // ROW_NUMBER over an empty window partition — that funnels the corpus
  // through one task, the classic 100 TB cliff.
  val shardBalance: QueryDef = QueryDef.pinned("q_shard_balance")(
    """WITH r AS (SELECT doc_id, n_chars,
      |    ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents),
      |a AS (SELECT doc_id, n_chars,
      |    CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
      |         ELSE 7 - ((rn - 1) % 8) END AS shard
      |  FROM r)
      |SELECT CAST(shard AS BIGINT) AS shard,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM a GROUP BY shard ORDER BY shard""".stripMargin) { (s, dir, pins) =>
    val ranked = graft.ops.GlobalIndex.withRowNumber(
      Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
      Seq(col("n_chars").desc, col("doc_id").asc), "rn", pins)
    ranked
      .select(col("doc_id"), col("n_chars"),
        when(expr("((rn - 1) div 8) % 2 = 0"), expr("(rn - 1) % 8"))
          .otherwise(expr("7 - ((rn - 1) % 8)")).as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("shard")
  }

  // Repeat-upsampling (the "epochs per domain" half of data mixing):
  // low-weight sources replicate more; each copy is tagged with its
  // epoch index so downstream shuffles can spread replicas. A generator
  // per row — no shuffle, output is (rows × repeat) with full lineage
  // back to the original doc.
  val upsampleRepeat: QueryDef = QueryDef.sql("q_upsample_repeat")(
    """WITH d AS (
      |  SELECT doc_id, source,
      |    3 - ((CAST(substr(source, 4) AS INT) % 3)) AS r
      |  FROM documents)
      |SELECT doc_id, source, CAST(UNNEST(generate_series(1, r)) AS BIGINT) AS epoch
      |FROM d ORDER BY doc_id, epoch""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        (lit(3) - (substring(col("source"), 4, 10).cast("int") % 3)).as("r"))
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("r").cast("long"))).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  // Chunk-level dedup — the composition q_doc_chunks' fingerprints
  // exist for: identical 40-token windows across DIFFERENT documents
  // (the fine-grained duplication document-level dedup can't see —
  // boilerplate headers, quoted passages). Pure groupBy on the 60-bit
  // chunk fingerprint; at 100 TB the shuffle carries 8-byte keys.
  val chunkDedup: QueryDef = QueryDef.sql("q_chunk_dedup")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |starts AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    UNNEST(generate_series(1, len(toks), $ChunkS)) AS chunk_start
       |  FROM base WHERE len(toks) > 0),
       |ch AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(array_to_string(list_slice(toks, chunk_start,
       |        chunk_start + ${ChunkW - 1}), ' ')), 1, 15))::BIGINT AS chunk_fp
       |  FROM starts)
       |SELECT chunk_fp, COUNT(*) AS n_copies, COUNT(DISTINCT doc_id) AS n_docs,
       |  MIN(doc_id) AS canonical_doc
       |FROM ch GROUP BY chunk_fp HAVING COUNT(*) > 1
       |ORDER BY chunk_fp""".stripMargin) { (s, dir) =>
    // same explode-folded empty-doc exclusion as chunkTokens: a filter
    // here would push below the exchange and tokenize twice
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(when(size(col("toks")) > 0,
            sequence(lit(1), size(col("toks")), lit(ChunkS)))
          .otherwise(array().cast("array<int>"))).as("chunk_start"))
      .select(col("doc_id"),
        Text.hash60(concat_ws(" ", slice(col("toks"), col("chunk_start"), lit(ChunkW))))
          .as("chunk_fp"))
      .groupBy("chunk_fp")
      .agg(count(lit(1)).as("n_copies"), countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("canonical_doc"))
      .filter(col("n_copies") > 1)
      .orderBy("chunk_fp")
  }

  // -------------------------------------------------------------------
  // End-to-end corpus dedup: the full pipeline a training-data run
  // executes as ONE materialization — MinHash-LSH band candidates
  // (TextAnalysis.minhashVerifiedStats) → exact shingle-Jaccard verify
  // ≥ 0.7 → connected components → keep the minimum-id canonical per
  // cluster → emit the SURVIVING corpus. Differs from q_dedup_clusters
  // (which reports cluster labels from exact all-pairs-blocked edges):
  // here the edge set comes from the O(n·bands) LSH path — the shape
  // that still runs at 100 TB — and the output is the deduplicated
  // document set itself, full corpus in → kept corpus out.
  // Verified pairs at `threshold`, checkpointed in `pins`; the persisted
  // shingle relation behind them is dropped once the checkpoint ran.
  private def verifiedPairs(s: SparkSession, dir: String, pins: Pins,
      threshold: Double): DataFrame = {
    val (stats, shingled) = TextAnalysis.minhashVerifiedStats(s, dir, pins)
    val pairs = pins.checkpoint(stats
      .filter(col("inter") / (col("n_a") + col("n_b") - col("inter")) >= threshold)
      .select("doc_a", "doc_b"))
    shingled.unpersist(blocking = false)
    pairs
  }

  val corpusDedup: QueryDef = {
    val threshold = 0.7
    QueryDef.pinned("q_corpus_dedup")(
      s"""WITH RECURSIVE ${TextAnalysis.minhashVerifiedCte},
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |          WHERE inter / (n_a + n_b - inter) >= $threshold),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |clusters AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
         |             FROM reach GROUP BY src)
         |SELECT d.doc_id, d.lang, d.n_chars,
         |  COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         |  CAST(c.doc_id IS NOT NULL AS INT) AS had_dups
         |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
         |WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir, pins) =>
      val labels = ccLabels(verifiedPairs(s, dir, pins, threshold), pins)
      // kept = never-duplicated docs + one canonical per dup cluster;
      // labels hold only near-dup members — a small fraction of any
      // real corpus — so the join against the full scan auto-broadcasts
      Tables.documents(s, dir)
        .select("doc_id", "lang", "n_chars")
        .join(labels.withColumnRenamed("doc", "doc_id"), Seq("doc_id"), "left")
        .filter(col("lbl").isNull || col("lbl") === col("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          coalesce(col("lbl"), col("doc_id")).as("cluster_id"),
          col("lbl").isNotNull.cast("int").as("had_dups"))
        .orderBy("doc_id")
    }
  }

  // Deterministic weighted sampling without replacement
  // (Efraimidis–Spirakis A-Res): each doc draws u ∈ (0,1) from a salted
  // md5 of its id, and the k docs maximizing u^(1/w) — equivalently
  // ln(u)/w, the order used here — form the sample, so inclusion
  // probability scales with weight (n_chars: long documents preferred,
  // the "sample by token budget" curation primitive). Same salted-hash
  // determinism as q_hash_split: reproducible under any partitioning,
  // re-runnable, and auditable cross-engine. Scale shape: one
  // projection + global top-k (TakeOrderedAndProject — per-partition
  // heaps merged on the driver, never a full sort); rank is assigned
  // after the top-k, over k rows.
  val sampleWeighted: QueryDef = {
    val k = 50
    QueryDef.sql("q_sample_weighted")(
      s"""WITH keyed AS (
         |  SELECT doc_id, n_chars,
         |    ln((('0x' || substr(md5('ws:' || doc_id), 1, 15))::BIGINT + 1)
         |       / 1152921504606846976.0) / n_chars AS key
         |  FROM documents),
         |r AS (SELECT doc_id, n_chars,
         |        ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS rnk
         |      FROM keyed)
         |SELECT rnk, doc_id, n_chars FROM r WHERE rnk <= $k
         |ORDER BY rnk""".stripMargin) { (s, dir) =>
      // u = (h60 + 1) / 2^60 ∈ (0, 1]; +1 keeps ln finite. Every step
      // (one division, ln, one division) is a single IEEE op on
      // identical inputs, so the sort keys are bit-identical cross-
      // engine and the selected set matches exactly.
      val key = log(
        (graft.ops.Text.hash60(concat(lit("ws:"), col("doc_id").cast("string")))
          + lit(1L)) / lit(1152921504606846976.0)) / col("n_chars")
      val top = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"), key.as("key"))
        .orderBy(col("key").desc, col("doc_id"))
        .limit(k)
      // rank over k rows only — the single-partition window is bounded
      // by k, not the corpus
      val w = Window.orderBy(col("key").desc, col("doc_id"))
      top.withColumn("rnk", row_number().over(w))
        .select("rnk", "doc_id", "n_chars")
        .orderBy("rnk")
    }
  }

  // Training-sequence packing — the GPT-style dataloader transform:
  // documents are concatenated in a deterministic total order (doc_id)
  // and the token stream is cut into fixed-length sequences of L; each
  // (sequence, document) overlap is emitted with its offset inside the
  // sequence. The global token prefix-sum uses
  // `GlobalIndex.withRunningTotal` (range-sort + per-partition offsets),
  // NOT `SUM() OVER (ORDER BY ...)` — the window form funnels the whole
  // corpus through one task, the classic 100 TB cliff. Everything
  // downstream is integer arithmetic: zero float risk, fully
  // hash-matched.
  val packSequences: QueryDef = {
    val L = 256
    QueryDef.pinned("q_pack_sequences")(
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_toks
         |           FROM documents),
         |c AS (SELECT doc_id, n_toks,
         |        CAST(SUM(n_toks) OVER (ORDER BY doc_id) AS BIGINT) AS cum
         |      FROM t WHERE n_toks > 0),
         |q AS (SELECT doc_id, n_toks, cum - n_toks AS g_start, cum AS g_end FROM c),
         |x AS (SELECT doc_id, g_start, g_end,
         |        UNNEST(generate_series(g_start // $L, (g_end - 1) // $L)) AS seq_id
         |      FROM q)
         |SELECT seq_id, doc_id,
         |  greatest(g_start, seq_id * $L) - seq_id * $L AS pos_in_seq,
         |  least(g_end, (seq_id + 1) * $L) - greatest(g_start, seq_id * $L)
         |    AS n_toks_in_seq
         |FROM x ORDER BY seq_id, doc_id""".stripMargin) { (s, dir, pins) =>
      // input-sized partitions for the tokenize pass, the prefix-sum
      // range sort, and the (seq, doc)-grain final sort — per-task
      // volume stays constant as the corpus grows
      // (Tables.scaledPartitions scaladoc)
      val nParts = Tables.scaledPartitions(s, dir, "documents")
      // no `.filter(n_toks > 0)`: that filter pushes below the
      // exchange by expression substitution, so the regex tokenize
      // would run TWICE per doc (the q_decontaminate finding). Empty
      // docs instead ride the prefix sum contributing 0 — g_start for
      // every other doc is unchanged — and vanish at the explode via
      // the empty-sequence guard below.
      val t = Tables.documents(s, dir)
        .repartition(nParts, col("doc_id"))
        .select(col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_toks"))
      val cum = graft.ops.GlobalIndex.withRunningTotal(
        t, Seq(col("doc_id")), "n_toks", "g_start", pins, nParts)
      val x = cum.withColumn("g_end", col("g_start") + col("n_toks"))
        .select(col("doc_id"), col("g_start"), col("g_end"),
          explode(when(col("g_end") > col("g_start"), sequence(
              expr(s"g_start div $L"), expr(s"(g_end - 1) div $L")))
            .otherwise(array().cast("array<bigint>"))).as("seq_id"))
      x.select(col("seq_id"), col("doc_id"),
          (greatest(col("g_start"), col("seq_id") * L) - col("seq_id") * L)
            .as("pos_in_seq"),
          (least(col("g_end"), (col("seq_id") + 1) * L)
            - greatest(col("g_start"), col("seq_id") * L)).as("n_toks_in_seq"))
        .repartitionByRange(nParts, col("seq_id"), col("doc_id"))
        .sortWithinPartitions("seq_id", "doc_id")
    }
  }

  // Token-budget corpus selection: fill a FIXED per-domain token budget
  // with the best documents first — the curation step that turns "we
  // scored everything" into "this is the training set". Quality order
  // here is (n_chars DESC, doc_id) — integer keys, so the greedy
  // prefix is bit-identical cross-engine (float scores would make the
  // cut-off ulp-sensitive); a doc is kept while the running token
  // total stays within budget. Scale shape: one shuffle on source
  // (the window partition key = the domain), running sum inside each
  // partition — no global sort, and domains fill independently, so
  // 10k domains parallelize across the cluster.
  val tokenBudget: QueryDef = {
    val budget = 600L
    QueryDef.pinned("q_token_budget")(
      s"""WITH t AS (SELECT source, doc_id, len($toksSql) AS n_toks
         |           FROM documents),
         |w AS (SELECT source, doc_id, n_toks,
         |        ROW_NUMBER() OVER (PARTITION BY source
         |          ORDER BY n_toks DESC, doc_id) AS rnk,
         |        CAST(SUM(n_toks) OVER (PARTITION BY source
         |          ORDER BY n_toks DESC, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_toks
         |      FROM t)
         |SELECT source, rnk, doc_id, n_toks, cum_toks
         |FROM w WHERE cum_toks <= $budget
         |ORDER BY source, rnk""".stripMargin) { (s, dir, pins) =>
      // source cardinality is a catalog constant while per-source
      // slices grow ∝ corpus, so a PARTITION BY source window puts a
      // whole source on one task — rank + running total instead run
      // two-phase (range-sort across input-sized partitions, per-key
      // prefix offsets, local labeling; ops/GlobalIndex scaladoc)
      val nParts = Tables.scaledPartitions(s, dir, "documents")
      val t = Tables.documents(s, dir)
        .repartition(nParts, col("doc_id"))
        .select(col("source"), col("doc_id"),
          size(Text.tokens(col("text"))).cast("long").as("n_toks"))
      graft.ops.GlobalIndex.withKeyedRankAndTotal(
          t, "source", Seq(col("n_toks").desc, col("doc_id")), "n_toks",
          "rnk", "cum_toks", nParts, pins)
        .filter(col("cum_toks") <= budget)
        .select("source", "rnk", "doc_id", "n_toks", "cum_toks")
        .orderBy("source", "rnk")
    }
  }

  // Quality-aware dedup survivorship: q_corpus_dedup keeps the MIN-id
  // doc per near-dup cluster; real pipelines keep the BEST one
  // (RefinedWeb keeps the longest page of a dup cluster). Same LSH →
  // verify → connected-components pipeline, but the representative is
  // chosen by (n_chars DESC, doc_id) inside each cluster — a policy
  // swap isolated to one window over the (tiny) cluster-member
  // relation, proving survivorship policy is orthogonal to the
  // clustering machinery. Output also carries cluster_size, the audit
  // column a dedup report aggregates.
  val corpusDedupBest: QueryDef = {
    val threshold = 0.7
    QueryDef.pinned("q_corpus_dedup_best")(
      s"""WITH RECURSIVE ${TextAnalysis.minhashVerifiedCte},
         |pairs AS (SELECT doc_a, doc_b FROM inter
         |          WHERE inter / (n_a + n_b - inter) >= $threshold),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |          UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |clusters AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
         |             FROM reach GROUP BY src),
         |members AS (SELECT c.doc_id, c.cluster_id, d.lang, d.n_chars
         |            FROM clusters c JOIN documents d ON c.doc_id = d.doc_id),
         |reps AS (SELECT doc_id, cluster_id, lang, n_chars,
         |           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |           ROW_NUMBER() OVER (PARTITION BY cluster_id
         |             ORDER BY n_chars DESC, doc_id) AS rn
         |         FROM members)
         |SELECT doc_id, lang, n_chars, cluster_id, cluster_size
         |FROM reps WHERE rn = 1
         |UNION ALL
         |SELECT d.doc_id, d.lang, d.n_chars, d.doc_id AS cluster_id,
         |  CAST(1 AS BIGINT) AS cluster_size
         |FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
         |WHERE c.doc_id IS NULL
         |ORDER BY doc_id""".stripMargin) { (s, dir, pins) =>
      val labels = ccLabels(verifiedPairs(s, dir, pins, threshold), pins)
        .withColumnRenamed("doc", "doc_id")
      val docsAll = Tables.documents(s, dir)
        .select("doc_id", "lang", "n_chars")
      // cluster members are a small fraction of any real corpus: the
      // window runs over |members| rows and the join auto-broadcasts
      val members = docsAll
        .join(labels, Seq("doc_id"))
        .withColumnRenamed("lbl", "cluster_id")
      val wc = Window.partitionBy("cluster_id")
      val reps = members
        .withColumn("cluster_size", count(lit(1)).over(wc))
        .withColumn("rn", row_number().over(
          wc.orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rn") === 1)
        .select("doc_id", "lang", "n_chars", "cluster_id", "cluster_size")
      val singletons = docsAll
        .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("doc_id").as("cluster_id"), lit(1L).as("cluster_size"))
      reps.unionByName(singletons).orderBy("doc_id")
    }
  }

  // -------------------------------------------------------------------
  // End-to-end training export — the capstone composition that turns
  // the raw corpus into sharded training sequences in ONE
  // materialization, the way q_corpus_dedup is the capstone for the
  // dedup family: quality gate (q_repetition_filter's keep rule) →
  // exact dedup (q_dedup_exact's min-id-per-md5 rule) → GPT-style
  // packing of the survivors' token stream into L=256 sequences
  // (q_pack_sequences' transform over the SAME GlobalIndex prefix sum —
  // never SUM() OVER an empty partition) → per-shard rollup
  // (shard = seq_id % 8). Every stage reuses the component query's
  // exact formula and shared helper (Text.tokens / Text.normText /
  // GlobalIndex.withRunningTotal), so the capstone cannot drift from
  // the operators it composes. One persisted (toks, norm) projection
  // feeds gate, dedup, and packing; output is the 8-row shard manifest
  // a dataloader consumes — all integer arithmetic, fully hash-matched.
  val trainingExport: QueryDef = QueryDef.pinned("q_training_export")(
    s"""WITH base AS (SELECT doc_id, $toksSql AS toks, $normSql AS norm
       |              FROM documents),
       |tok AS (SELECT doc_id, UNNEST(toks) AS t FROM base),
       |tc AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
       |ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |         CAST(COUNT(*) AS BIGINT) AS n_distinct,
       |         CAST(MAX(c) AS BIGINT) AS top_c
       |       FROM tc GROUP BY doc_id),
       |keepq AS (SELECT doc_id, n_tokens FROM ts
       |          WHERE n_distinct / n_tokens >= 0.2 AND top_c / n_tokens <= 0.2),
       |dd AS (SELECT b.doc_id, k.n_tokens, md5(b.norm) AS fp
       |       FROM base b JOIN keepq k ON b.doc_id = k.doc_id),
       |canon AS (SELECT fp, MIN(doc_id) AS doc_id FROM dd GROUP BY fp),
       |kept AS (SELECT d.doc_id, d.n_tokens FROM dd d
       |         JOIN canon c ON c.doc_id = d.doc_id),
       |cum AS (SELECT doc_id, n_tokens,
       |          CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cumt
       |        FROM kept WHERE n_tokens > 0),
       |q AS (SELECT doc_id, cumt - n_tokens AS g_start, cumt AS g_end FROM cum),
       |x AS (SELECT doc_id, g_start, g_end,
       |        UNNEST(generate_series(g_start // 256, (g_end - 1) // 256)) AS seq_id
       |      FROM q),
       |seg AS (SELECT seq_id, doc_id,
       |          least(g_end, (seq_id + 1) * 256)
       |            - greatest(g_start, seq_id * 256) AS n_in_seq
       |        FROM x)
       |SELECT seq_id % 8 AS shard_id,
       |  CAST(COUNT(DISTINCT seq_id) AS BIGINT) AS n_seqs,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_in_seq) AS BIGINT) AS n_tokens
       |FROM seg GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir, pins) =>
    val L = 256
    val base = pins.persist(Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"),
        Text.normText(col("text")).as("norm")))
    // fill the cache eagerly: the gate and the dedup branches
    // materialize concurrently under AQE, and a lazy persist lets both
    // race to compute the uncached tokenize chain (the
    // minhashVerifiedStats lesson)
    base.count()
    val ts = base.select(col("doc_id"), explode(col("toks")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
    val keepq = ts
      .filter(col("n_distinct") / col("n_tokens") >= 0.2 &&
        col("top_c") / col("n_tokens") <= 0.2)
      .select("doc_id", "n_tokens")
    val dd = base.join(keepq, "doc_id")
      .select(col("doc_id"), col("n_tokens"), md5(col("norm")).as("fp"))
    val canon = dd.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
    val kept = dd.join(canon.select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id", "n_tokens")
    val cum = graft.ops.GlobalIndex.withRunningTotal(
      kept.filter(col("n_tokens") > 0), Seq(col("doc_id")), "n_tokens", "g_start", pins)
    val seg = cum.withColumn("g_end", col("g_start") + col("n_tokens"))
      .select(col("doc_id"), col("g_start"), col("g_end"),
        explode(sequence(
          expr(s"g_start div $L"), expr(s"(g_end - 1) div $L"))).as("seq_id"))
      .select(col("seq_id"), col("doc_id"),
        (least(col("g_end"), (col("seq_id") + 1) * L)
          - greatest(col("g_start"), col("seq_id") * L)).as("n_in_seq"))
    seg.groupBy((col("seq_id") % 8).as("shard_id"))
      .agg(countDistinct(col("seq_id")).as("n_seqs"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_in_seq")).as("n_tokens"))
      .orderBy("shard_id")
  }

  val all: Seq[QueryDef] = Seq(
    dedupClusters, dedupClustersTwoStar, repetitionFilter, hashSplit,
    splitLeakageSafe,
    sampleStratified, docChunks, piiRedact, idfQuality, contamination,
    filterFunnel, domainMix, domainMixTemp, upsampleRepeat, chunkDedup,
    corpusDedup, sampleWeighted, packSequences, shardBalance,
    tokenBudget, corpusDedupBest, decontaminate, trainingExport)
}
