package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Graft.table
import graft.functions.Text
import graft.operators.Dedup

/** Text-analysis + dedup queries over the `documents` table.
  * Oracle SQL mirrors the Spark logic exactly (same regexes, same marker
  * words, same integer arithmetic) so results hash-match in DuckDB.
  */
object TextSuite {

  /** Per-(session, dir) memo of the full-corpus MinHash near-dup pairs
    * (k=32, bands=16, shingle=3, threshold=0.5) and their
    * connected-component closure — the pipeline x7/x18/x27/x28 all
    * consume. Per-query isolation was re-running the identical
    * shingle→minhash→band→verify computation four times (~100 s of the
    * cold bench); the memoized frames are lineage-truncated
    * (RestMemo.frame), so each is computed once per session and
    * downstream queries reference a truncated plan. Deterministic
    * pipeline + fixed inputs ⇒ caching cannot change any query's
    * result. Lifecycle (eviction on session end / data change / idle
    * TTL) is SessionMemo's. x35 intentionally does NOT share: its audit
    * runs on a 50% id-sample by design, and x30's cross-corpus banding
    * has no within-side pairs to reuse.
    */
  private object DedupShared {
    import graft.RestMemo
    def pairs(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
      RestMemo.frame(s, s"$dir/documents.parquet", "minhash-pairs")(
        Dedup.minhashNearDups(table(s, dir, "documents"), "doc_id", "text",
          k = 32, bands = 16, shingleSize = 3, threshold = 0.5))
    def clusters(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
      // pairs() resolved BEFORE the clusters slot computes (kept from the
      // computeIfAbsent era; also saves a wasted duplicate pairs run when
      // two first-lookups race on the clusters slot). A clusters RELOAD
      // skips the pairs build entirely only when pairs also reloads —
      // both sidecars carry the same corpus fingerprint, so they agree.
      val p = pairs(s, dir)
      RestMemo.frame(s, s"$dir/documents.parquet", "minhash-clusters")(
        Dedup.dupClusters(p))
    }
  }

  /** Force the per-session dedup-pipeline memos for `dir`, timed per
    * item — Bench's `sf1_builds` section (see VectorSuite.prebuild).
    * Skipped-for-time items return -1.0 and fall back to lazy builds.
    */
  private[graft] def prebuild(s: org.apache.spark.sql.SparkSession,
      dir: String, go: () => Boolean): Seq[(String, Double)] = {
    val items: Seq[(String, () => Unit)] = Seq(
      "text_bpe_train" -> (() => { BpeShared.trained(s, dir); () }),
      "text_minhash_pairs" -> (() => { DedupShared.pairs(s, dir); () }),
      "text_dup_clusters" -> (() => { DedupShared.clusters(s, dir); () }))
    graft.Prebuild.timed(items, go)
  }

  // DuckDB fragment: whitespace tokens of trimmed text.
  private val sqlTokens = "string_split_regex(trim(text), '\\s+')"
  // DuckDB fragment: 3-token shingles of `text` (mirrors Text.wordShingles).
  private val sqlShingles3 =
    s"list_transform(generate_series(1, greatest(len($sqlTokens) - 2, 0)), i -> array_to_string(list_slice($sqlTokens, i, i + 2), ' '))"
  // DuckDB fragment: 2-token shingles (bigrams) of `text`.
  private val sqlShingles2 =
    s"list_transform(generate_series(1, greatest(len($sqlTokens) - 1, 0)), i -> array_to_string(list_slice($sqlTokens, i, i + 1), ' '))"
  private def sqlCountIn(words: Seq[String]): String =
    s"len(list_filter($sqlTokens, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"

  // (the BPE-ish pre-tokenizer mirror retired in round 12: x16 now
  // measures fertility under the LEARNED tokenizer — see BpeShared;
  // Text.bpeTokens remains part of the expression surface,
  // spec-covered in TextDedupSpec)

  /** x8b's fixed-size shard bound — ONE constant feeding both the Spark
    * filter and the oracle scope (a drifted duplicate would silently
    * diverge the two sides until correctness-run time). `final` makes it
    * a compile-time constant — and it must in any case be initialized
    * BEFORE the `queries` val below, which reads it.
    */
  private final val X8bShardBound = 16384

  /** Per-(session, dir) memo of the LEARNED BPE state (operators.Bpe —
    * 8 merge rounds on the documents vocabulary): x40 reports the merge
    * table, x16 reads the final symbol table for learned-tokenizer
    * fertility. One training per session — the ingest/query split.
    */
  private object BpeShared {
    import graft.{Graft, RestMemo}
    val Rounds = 8
    val MaxWordLen = 16
    def trained(s: org.apache.spark.sql.SparkSession,
        dir: String): graft.operators.Bpe.Trained =
      RestMemo.multi(s, s"$dir/documents.parquet", "bpe-train-v1")({
        graft.operators.Bpe.train(table(s, dir, "documents"), "text",
          Rounds, MaxWordLen)
      })(
        // sidecar: the final symbol table (data-sized) plus the learned
        // merge table as its own frame — lhs/rhs are text fragments, so
        // they ride parquet, not the line-based manifest
        t => (Seq("syms" -> t.syms,
          "merges" -> s.createDataFrame(t.merges)),
          Map("totalWords" -> t.totalWords.toString)),
        (fs, meta) => {
          import s.implicits._
          graft.operators.Bpe.Trained(
            merges = fs("merges").as[graft.operators.Bpe.Merge]
              .collect().toSeq.sortBy(_.round),
            syms = RestMemo.truncated(fs("syms")),
            totalWords = meta("totalWords").toLong)
        })(t => Graft.releaseTruncated(t.syms))
  }

  /** The Gopher-style composite quality gate — ONE definition of the
    * signals and thresholds, read by x21 (per-rule failure counts) and
    * x38 (the curation pipeline's low_quality gate) so the declared
    * filter and the pipeline that applies it cannot drift apart.
    */
  private object QualityGate {
    import org.apache.spark.sql.Column
    private val toks = Text.tokens(col("text"))
    val n: Column = size(toks).cast("long")
    val meanLen: Column = length(regexp_replace(col("text"), "\\s", ""))
      .cast("double") / greatest(n, lit(1L)).cast("double")
    val alphaFrac: Column = size(filter(toks, t => t.rlike("[A-Za-z]")))
      .cast("double") / greatest(n, lit(1L)).cast("double")
    val stop: Column = Text.stopwordCount(col("text"))
    val okLen: Column = n.between(30L, 100000L)
    val okMean: Column = meanLen.between(3.0, 10.0)
    val okAlpha: Column = alphaFrac > 0.7
    val okStop: Column = stop >= 2L
    val ok: Column = okLen && okMean && okAlpha && okStop
  }

  /** SQL mirror of [[QualityGate]]: per-doc signal rows (subquery body)
    * and the pass predicate over them.
    */
  private def sqlQualitySignals: String =
    s"""SELECT doc_id, lang,
    |      len($sqlTokens) AS n,
    |      CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
    |        / greatest(len($sqlTokens), 1) AS mean_len,
    |      CAST(len(list_filter($sqlTokens, t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
    |        / greatest(len($sqlTokens), 1) AS alpha_frac,
    |      ${sqlCountIn(Text.stopwords)} AS n_stop
    |    FROM documents""".stripMargin

  private val sqlQualityPass =
    "n BETWEEN 30 AND 100000 AND mean_len BETWEEN 3.0 AND 10.0 " +
      "AND alpha_frac > 0.7 AND n_stop >= 2"

  /** The learned-BPE training chain as DuckDB CTEs — replays
    * operators.Bpe.train round for round: w0 = vocabulary with
    * frequencies, s0 = character symbol table, then per round r:
    * p{r} adjacent pairs (window lead), t{r} the winning pair (count
    * DESC, lhs, rhs — the same tiebreak), c{r} the greedy merge heads
    * via gaps-and-islands parity, s{r} the applied table. Used whole by
    * x40's mirror and (s{Rounds} only — DuckDB skips unreferenced CTEs)
    * by x16's.
    */
  private def sqlBpeChain(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""w0 AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest($sqlTokens) AS w FROM documents) t
  WHERE length(w) BETWEEN 1 AND ${BpeShared.MaxWordLen} GROUP BY w),
s0 AS MATERIALIZED (
  SELECT w, freq, i - 1 AS pos, substr(w, CAST(i AS INT), 1) AS sym
  FROM (SELECT w, freq, unnest(generate_series(1, length(w))) AS i FROM w0) z)""")
    for (r <- 1 to rounds) sb.append(
      s""",
p$r AS MATERIALIZED (
  SELECT w, freq, pos, sym,
    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
  FROM s${r - 1}),
t$r AS MATERIALIZED (
  SELECT sym AS lhs, nxt AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM p$r WHERE nxt IS NOT NULL
  GROUP BY sym, nxt ORDER BY cnt DESC, lhs, rhs LIMIT 1),
c$r AS MATERIALIZED (
  SELECT w, pos FROM (
    SELECT w, pos,
      row_number() OVER (PARTITION BY w, island ORDER BY pos) - 1 AS off
    FROM (
      SELECT p.w, p.pos,
        p.pos - row_number() OVER (PARTITION BY p.w ORDER BY p.pos) AS island
      FROM p$r p, t$r t WHERE p.sym = t.lhs AND p.nxt = t.rhs) z) zz
  WHERE off % 2 = 0),
s$r AS MATERIALIZED (
  SELECT w, freq, row_number() OVER (PARTITION BY w ORDER BY pos) - 1 AS pos,
    CASE WHEN is_head THEN sym || nxt ELSE sym END AS sym
  FROM (
    SELECT p.w, p.freq, p.pos, p.sym, p.nxt, h.pos IS NOT NULL AS is_head
    FROM p$r p
    LEFT JOIN c$r h ON p.w = h.w AND p.pos = h.pos
    LEFT JOIN c$r d ON p.w = d.w AND p.pos = d.pos + 1
    WHERE d.pos IS NULL) q),
m$r AS MATERIALIZED (
  SELECT $r AS round, lhs, rhs, cnt AS n_pairs,
    (SELECT CAST(SUM(freq) AS BIGINT) FROM s$r) AS total_symbols
  FROM t$r)""")
    sb.toString
  }

  val queries: Map[String, Q] = Map(

    // --- x40: LEARNED BPE training (round 12) --------------------------
    // Real merges, not the pre-tokenizer heuristic: 8 rounds of
    // (top adjacent pair by freq-weighted count, greedy apply) on the
    // documents vocabulary — operators.Bpe. The merge table and the
    // per-round corpus symbol count land in the output (total_symbols
    // decreasing monotonically is the training signal; fertility =
    // symbols per whitespace word after that round). The oracle replays
    // the training CTE-for-CTE, so hash-green means DuckDB LEARNED THE
    // SAME MERGES in the same order.
    "x40_bpe_train" -> Q(
      (s, dir) => {
        import s.implicits._
        val t = BpeShared.trained(s, dir)
        t.merges.map(m => (m.round, m.lhs, m.rhs, m.nPairs, m.totalSymbols,
          m.totalSymbols.toDouble / t.totalWords.toDouble))
          .toDF("round", "lhs", "rhs", "n_pairs", "total_symbols",
            "fertility")
          .orderBy("round")
      },
      Some(s"""WITH ${sqlBpeChain(BpeShared.Rounds)},
        |tw AS (SELECT CAST(SUM(freq) AS BIGINT) AS twc FROM w0)
        |SELECT CAST(round AS BIGINT) AS round, lhs, rhs, n_pairs,
        |  total_symbols,
        |  CAST(total_symbols AS DOUBLE) / CAST(twc AS DOUBLE) AS fertility
        |FROM (${(1 to BpeShared.Rounds)
          .map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")}) u
        |CROSS JOIN tw ORDER BY round""".stripMargin),
      "Learned BPE: 8 real merge rounds (top pair + greedy apply) on " +
        "the documents vocabulary; the oracle re-learns the identical " +
        "merge table CTE-for-CTE"),

    // --- x16: fertility under the LEARNED tokenizer --------------------
    // Re-pointed at x40's trained table (round 12; previously the
    // regex pre-tokenizer heuristic): per language, total subword count
    // = Σ word-occurrences × learned symbols-per-word (untrained words —
    // longer than MaxWordLen — fall back to character count,
    // deterministically), over the whitespace token base. The oracle
    // embeds the training chain and reads its final symbol table.
    "x16_bpe_fertility" -> Q(
      (s, dir) => {
        val t = BpeShared.trained(s, dir)
        val nsyms = t.syms.groupBy("w").agg(count(lit(1)).as("nsym"))
        val docs = table(s, dir, "documents")
        val learned = docs
          .select(col("lang"), explode(Text.tokens(col("text"))).as("w"))
          .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
          .join(nsyms, Seq("w"), "left")
          .groupBy("lang")
          .agg(sum(col("cnt") *
            coalesce(col("nsym"), length(col("w")).cast("long")))
            .as("total_bpe"))
        val ws = docs.groupBy("lang")
          .agg(sum(Text.tokenCount(col("text"))).as("total_ws"))
        learned.join(ws, Seq("lang"))
          .select(col("lang"), col("total_bpe"), col("total_ws"),
            (col("total_bpe").cast("double") /
              greatest(col("total_ws"), lit(1L)).cast("double"))
              .as("fertility"))
          .orderBy("lang")
      },
      Some(s"""WITH ${sqlBpeChain(BpeShared.Rounds)},
        |ns AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS nsym
        |  FROM s${BpeShared.Rounds} GROUP BY w),
        |lw AS (SELECT lang, w, COUNT(*) AS cnt
        |  FROM (SELECT lang, unnest($sqlTokens) AS w FROM documents) t
        |  GROUP BY lang, w),
        |lb AS (SELECT lang,
        |    CAST(SUM(cnt * COALESCE(nsym, length(w))) AS BIGINT) AS total_bpe
        |  FROM lw LEFT JOIN ns USING (w) GROUP BY lang),
        |wt AS (SELECT lang, CAST(SUM(len($sqlTokens)) AS BIGINT) AS total_ws
        |  FROM documents GROUP BY lang)
        |SELECT lang, total_bpe, total_ws,
        |  CAST(total_bpe AS DOUBLE) /
        |    CAST(GREATEST(total_ws, 1) AS DOUBLE) AS fertility
        |FROM lb JOIN wt USING (lang) ORDER BY lang""".stripMargin),
      "Fertility under the LEARNED tokenizer (x40's trained table): " +
        "subwords per whitespace word per language"),

    // --- x41: the learned VOCABULARY (round 12) -------------------------
    // What a trained tokenizer actually ships: the symbol inventory and
    // its corpus mass. Top 20 learned symbols by freq-weighted
    // occurrence count (symbol ASC tiebreak), each tagged with its
    // byte length and whether it's a merge product — read from the same
    // trained table as x40/x16, oracled against the replayed chain.
    "x41_bpe_vocab" -> Q(
      (s, dir) => {
        val t = BpeShared.trained(s, dir)
        t.syms.groupBy("sym")
          .agg(sum("freq").as("total_count"),
            countDistinct(col("w")).as("n_words"))
          .select(col("sym"), col("total_count"), col("n_words"),
            length(col("sym")).cast("long").as("sym_len"),
            (length(col("sym")) > 1).as("is_merged"))
          .orderBy(col("total_count").desc, col("sym").asc)
          .limit(20)
      },
      Some(s"""WITH ${sqlBpeChain(BpeShared.Rounds)}
        |SELECT sym, CAST(SUM(freq) AS BIGINT) AS total_count,
        |  CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words,
        |  CAST(length(sym) AS BIGINT) AS sym_len,
        |  length(sym) > 1 AS is_merged
        |FROM s${BpeShared.Rounds}
        |GROUP BY sym ORDER BY total_count DESC, sym ASC LIMIT 20""".stripMargin),
      "The learned tokenizer's vocabulary: top symbols by corpus mass " +
        "after the x40 merges, merge products flagged"),

    // --- Unicode NFC normalization ------------------------------------
    // Canonical equivalence must collapse BEFORE any hashing/dedup:
    // composed and decomposed accents are byte-different but equal text.
    // The corpus is ASCII, so each doc gets a decomposed suffix appended
    // IN the query; the native codegen'd nfc_normalize (java.text
    // .Normalizer) must agree codepoint-for-codepoint with DuckDB's
    // utf8proc implementation — composed counts and the re-fingerprint
    // are the oracled output. (count_distinct here groups normalized
    // TEXT for string-exact oracle parity; the at-scale form counts
    // distinct 64-bit fingerprints of it — x5/x11 pattern — so only
    // hashes shuffle.)
    "x17_nfc_normalize" -> Q(
      (s, dir) =>
        table(s, dir, "documents")
          .withColumn("raw",
            concat(col("text"), lit(" Café naïve")))
          .withColumn("norm", call_function("nfc_normalize", col("raw")))
          .groupBy("lang")
          .agg(
            sum(length(col("raw"))).as("raw_chars"),
            sum(length(col("norm"))).as("norm_chars"),
            sum(length(col("raw")) - length(col("norm"))).as("composed"),
            count_distinct(col("norm")).as("n_distinct_norm"))
          .orderBy("lang"),
      Some("""SELECT lang,
        |  CAST(SUM(length(raw)) AS BIGINT) AS raw_chars,
        |  CAST(SUM(length(nfc_normalize(raw))) AS BIGINT) AS norm_chars,
        |  CAST(SUM(length(raw) - length(nfc_normalize(raw))) AS BIGINT) AS composed,
        |  COUNT(DISTINCT nfc_normalize(raw)) AS n_distinct_norm
        |FROM (SELECT lang,
        |    text || ' Cafe' || chr(769) || ' nai' || chr(776) || 've' AS raw
        |  FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "Unicode NFC normalization (native codegen'd expression vs DuckDB utf8proc)"),

    // --- token counting -----------------------------------------------
    "x1_token_stats" -> Q(
      (s, dir) =>
        table(s, dir, "documents")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(Text.tokenCount(col("text"))).as("total_tokens"),
            sum(col("n_chars")).as("total_chars"),
            max(Text.tokenCount(col("text"))).as("max_tokens"))
          .orderBy("lang"),
      Some(s"""SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len($sqlTokens)) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MAX(len($sqlTokens)) AS max_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      "Token counting (whitespace tokenizer) per language"),

    // --- quality scoring ----------------------------------------------
    "x2_quality_signals" -> Q(
      (s, dir) =>
        table(s, dir, "documents")
          .filter(col("doc_id") < 300)
          .select(col("doc_id"),
            Text.tokenCount(col("text")).as("n_tokens"),
            Text.stopwordCount(col("text")).as("n_stopwords"),
            Text.punctCount(col("text")).as("n_punct"),
            (Text.stopwordCount(col("text")).cast("double") /
              greatest(Text.tokenCount(col("text")), lit(1L)).cast("double"))
              .as("stopword_ratio"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
        |  len($sqlTokens) AS n_tokens,
        |  ${sqlCountIn(Text.stopwords)} AS n_stopwords,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT) AS n_punct,
        |  CAST(${sqlCountIn(Text.stopwords)} AS DOUBLE) /
        |    CAST(greatest(len($sqlTokens), 1) AS DOUBLE) AS stopword_ratio
        |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin),
      "Quality scoring signals: token/stopword/punctuation counts + ratio"),

    // --- language ID heuristic ----------------------------------------
    "x3_langid_confusion" -> Q(
      (s, dir) =>
        table(s, dir, "documents")
          .withColumn("toks", Text.tokens(col("text")))
          .select(col("lang"), Text.langIdFromTokens(col("toks")).as("predicted"))
          .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
          .orderBy("lang", "predicted"),
      Some {
        // exact mirror of Text.langId: fold in sorted-language order,
        // strictly-greater wins, score<=0 → 'und'
        val sorted = Text.langMarkers.toSeq.sortBy(_._1)
        val folded = sorted.foldLeft("STRUCT_PACK(score := CAST(-1 AS BIGINT), lang := 'und')") {
          case (acc, (l, ws)) =>
            val sc = sqlCountIn(ws)
            s"(CASE WHEN CAST($sc AS BIGINT) > ($acc).score THEN STRUCT_PACK(score := CAST($sc AS BIGINT), lang := '$l') ELSE $acc END)"
        }
        s"""WITH pred AS (
          |  SELECT lang,
          |    (CASE WHEN ($folded).score <= 0 THEN 'und' ELSE ($folded).lang END) AS predicted
          |  FROM documents)
          |SELECT lang, predicted, COUNT(*) AS n FROM pred
          |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
      },
      "Language-ID marker-word heuristic; confusion matrix vs labeled lang"),

    // --- fingerprinting + exact dedup ---------------------------------
    "x4_fingerprint_buckets" -> Q(
      (s, dir) =>
        table(s, dir, "documents")
          .select(substring(Text.fingerprint(col("text")), 1, 2).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .orderBy("bucket"),
      Some("""SELECT substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 2) AS bucket,
        |  COUNT(*) AS n
        |FROM documents GROUP BY bucket ORDER BY bucket""".stripMargin),
      "Document fingerprinting (md5 of normalized text), bucket histogram"),

    "x5_exact_dedup" -> Q(
      (s, dir) => {
        val d = Dedup.exact(table(s, dir, "documents"), "doc_id", "text")
        d.groupBy("lang").agg(count(lit(1)).as("n_unique"))
          .orderBy("lang")
      },
      Some("""WITH ranked AS (
        |  SELECT lang, row_number() OVER (
        |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    ORDER BY doc_id ASC) AS rn
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_unique FROM ranked WHERE rn = 1
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "Exact dedup: keep min doc_id per normalized-text fingerprint"),

    // --- n-gram Jaccard (capped explode/equi-join shape) --------------
    // The document-frequency cap (maxDocFreq=100) is ACTIVE here: it is
    // what bounds the shingle equi-join at 100 TB (O(df²) per shingle,
    // never O(c²) for a boilerplate shingle in c docs). The oracle
    // mirrors the identical cut, and the verify stage still reports the
    // exact Jaccard over the FULL shingle sets.
    "x6_ngram_jaccard" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleSize = 3,
            threshold = 0.1, maxDocFreq = 100)
          .orderBy("id1", "id2")
      },
      Some(sqlExactJaccardPairs(0.1, maxDocFreq = 100)),
      "n-gram Jaccard via capped explode+equi-join (df-capped shingles, exact verify)"),

    // --- MinHash+LSH near-dedup --------------------------------------
    // The LSH parameters are sized so candidate recall at j>=0.5 is
    // 1 - (1-j^2)^16 ≈ 1 (loss < 1e-10 for the corpus' j≈0.9 dup pairs),
    // and the exact-Jaccard verification stage makes the output EQUAL to
    // the brute-force answer — so the same exact-pairs SQL is a true
    // oracle for the whole approximate pipeline.
    //
    // CORPUS-DEPENDENT: equality is probabilistic for pairs near the
    // threshold (a pair at j≈0.5 has ~1% chance of sharing no band and
    // ~0.2% of failing the stage-1 estimate cut). It is exact here
    // because the fixture corpus has NO pair with Jaccard in the
    // marginal band [0.45, 0.65) — pinned by TextDedupSpec
    // ("x7 oracle margin"), so regenerated testdata that violates it
    // fails loudly there instead of as a mystery hash mismatch.
    "x7_minhash_neardups" -> Q(
      (s, dir) => DedupShared.pairs(s, dir).orderBy("id1", "id2"),
      Some(sqlExactJaccardPairs(0.5)),
      "MinHash+LSH near-dedup: shingle→minhash→band→bucket-join→Jaccard verify"),

    // --- SimHash near-dups: full SQL mirror oracle --------------------
    // The signature is engine-replicable integer arithmetic (two 31-bit
    // polynomial rolling hashes + LCG finalizer — graft.expressions
    // .SimHashImpl), so the oracle rebuilds the identical signatures,
    // band buckets, bucket cap, and Hamming filter in DuckDB SQL.
    //
    // FLAGSHIP radius is 3: pigeonhole-EXACT for the 4×16-bit banding
    // (hamming<=3 ⇒ at least one untouched block), and a fixed radius-3
    // ball is small enough that birthday-effect noise pairs stay
    // negligible at any corpus size. The radius-16 recall-heavy variant
    // is declared separately below (x8b) with its scale caveat.
    "x8_simhash_neardups" -> Q(
      (s, dir) =>
        Dedup.simhashNearDups(table(s, dir, "documents"), "doc_id", "text",
            maxHamming = 3)
          .orderBy("id1", "id2"),
      Some(sqlSimhashMirror(maxHamming = 3, cap = 256)),
      "SimHash 62-bit near-dups, radius 3 (pigeonhole-exact for the 4x16-bit bands)"),

    // Recall-heavy variant: radius 16 catches lighter paraphrases but a
    // 62-bit signature has P(hamming<=16) ≈ 1e-5 for UNRELATED docs —
    // noise pairs grow ~n²·1e-5 (measured superlinear past ~100k docs in
    // ScaleStress). So the DECLARED query runs it the only way it should
    // ever run: on a FIXED-SIZE shard (doc_id < 16384 — e.g. one
    // partition of a sharded re-dedup pass), where the n²·1e-5 noise
    // term is a constant ~2.7k pair ceiling at ANY corpus size. The
    // corpus-scale recall path is x8c's two-lane 124-bit signature,
    // which holds the same recall with a ~1e-8 noise coefficient.
    "x8b_simhash_radius16" -> Q(
      (s, dir) =>
        Dedup.simhashNearDups(
            table(s, dir, "documents").filter(col("doc_id") < X8bShardBound),
            "doc_id", "text", maxHamming = 16)
          .orderBy("id1", "id2"),
      Some(sqlSimhashMirror(maxHamming = 16, cap = 256,
        scope = s"(SELECT * FROM documents WHERE doc_id < $X8bShardBound)")),
      "SimHash radius-16 recall-heavy variant on a fixed-size shard " +
        "(radius 16 is for bounded scopes; x8c is the corpus-scale path)"),

    // Wide-signature recall path: TWO independent 62-bit lanes (124
    // bits), 8 band blocks, summed-Hamming radius 32 — the same
    // RELATIVE radius as 16/62, so recall for light paraphrases is
    // preserved (improved, even: the wider binomial concentrates),
    // while unrelated-pair noise falls from ~1e-5 to P(h<=32|124) ≈
    // 6e-8, of which only ~10% also share a block — ~1e-8·n²/2
    // reported chance pairs, ~3 orders below x8b. The oracle rebuilds
    // both lanes' integer arithmetic and the summed verify in SQL.
    "x8c_simhash_wide" -> Q(
      (s, dir) =>
        Dedup.simhashNearDups128(table(s, dir, "documents"), "doc_id",
            "text", maxHamming = 32)
          .orderBy("id1", "id2"),
      Some(sqlSimhash128Mirror(maxHamming = 32, cap = 256)),
      "Two-lane 124-bit SimHash near-dups, radius 32: radius-16-class " +
        "recall at ~1e-8 n^2 noise (retires x8b's scale caveat)"),

    // --- near-dup clustering (pairs → components → canonical) ----------
    // Near-dup relations CHAIN (A≈B, B≈C with A,C below threshold), so
    // pair lists alone under-dedup; the pipeline step is connected
    // components with one canonical survivor per group. Spark side is
    // min-label propagation (Dedup.dupClusters); the oracle rebuilds the
    // same exact pairs and closes them with a recursive CTE — component
    // structure itself is what hash-matches.
    "x18_dup_clusters" -> Q(
      (s, dir) => DedupShared.clusters(s, dir)
        .orderBy("canonical_id", "member_id"),
      Some(s"""WITH RECURSIVE pairs AS (
        |${sqlExactJaccardPairsBody(0.5)}
        |),
        |edges AS (
        |  SELECT id1 AS a, id2 AS b FROM pairs
        |  UNION ALL SELECT id2, id1 FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT LEAST(a, MIN(b)) AS canonical_id, a AS member_id
        |FROM reach GROUP BY a
        |ORDER BY canonical_id, member_id""".stripMargin),
      "Near-dup clustering: connected components over MinHash pairs, " +
        "min-id canonical per group (min-label propagation vs recursive CTE)"),

    // --- near-dup dedup APPLIED (the end-to-end pipeline step) ----------
    // What a training pipeline actually ships: pairs → components →
    // keep each component's canonical member, drop the rest — then the
    // surviving corpus per language. Dedup.keepCanonical is one
    // left-anti join on the cluster losers; docs in no cluster pass
    // through untouched. The oracle closes the identical exact pairs
    // with the recursive CTE, derives the same loser set, and
    // anti-joins it.
    "x28_dedup_apply" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        Dedup.keepCanonical(docs, "doc_id", DedupShared.clusters(s, dir))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(Text.tokenCount(col("text"))).as("n_tokens"))
          .orderBy("lang")
      },
      Some(s"""WITH RECURSIVE pairs AS (
        |${sqlExactJaccardPairsBody(0.5)}
        |),
        |edges AS (
        |  SELECT id1 AS a, id2 AS b FROM pairs
        |  UNION ALL SELECT id2, id1 FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |canon AS (
        |  SELECT a AS member_id, LEAST(a, MIN(b)) AS canonical_id
        |  FROM reach GROUP BY a),
        |losers AS (
        |  SELECT member_id FROM canon WHERE member_id <> canonical_id)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len($sqlTokens)) AS BIGINT) AS n_tokens
        |FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.member_id = d.doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "Near-dup dedup applied end-to-end: anti-join the cluster losers, " +
        "surviving corpus per language"),

    // --- context-window chunking ---------------------------------------
    // Long documents become overlapping training windows (64 tokens,
    // stride 48) — explode-per-doc, no token crosses the wire twice
    // beyond the overlap itself. The oracle rebuilds the identical
    // start sequence, slices, and per-chunk md5.
    "x19_token_chunks" -> Q(
      (s, dir) =>
        table(s, dir, "documents")
          .filter(col("doc_id") < 200)
          .select(col("doc_id"),
            posexplode(Text.tokenChunks(col("text"), 64, 48))
              .as(Seq("chunk_id", "chunk")))
          .select(col("doc_id"), col("chunk_id"),
            Text.tokenCount(col("chunk")).as("n_tokens"),
            md5(col("chunk")).as("chunk_md5"))
          .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH base AS (
        |  SELECT doc_id, list_transform(
        |    generate_series(1, greatest(len(toks) - 64 + 48, 1), 48),
        |    s -> array_to_string(list_slice(toks, s, s + 63), ' ')) AS chunks
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        |    FROM documents WHERE doc_id < 200)),
        |u AS (SELECT doc_id,
        |  unnest(generate_series(1, len(chunks))) - 1 AS chunk_id,
        |  unnest(chunks) AS chunk FROM base)
        |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
        |  CAST(len(string_split_regex(trim(chunk), '\\s+')) AS BIGINT) AS n_tokens,
        |  md5(chunk) AS chunk_md5
        |FROM u ORDER BY doc_id, chunk_id""".stripMargin),
      "Context-window chunking: overlapping 64-token windows, stride 48"),

    // --- word shingles histogram (drives minhash correctness) ---------
    "x9_shingles" -> Q(
      (s, dir) =>
        table(s, dir, "documents")
          .filter(col("doc_id") < 100)
          .select(col("doc_id"),
            explode(Text.wordShingles(col("text"), 3)).as("shingle"))
          .groupBy("shingle").agg(count(lit(1)).as("n"))
          .filter(col("n") >= 2)
          .orderBy(col("n").desc, col("shingle").asc),
      Some("""SELECT shingle, COUNT(*) AS n FROM (
        |  SELECT unnest(list_transform(
        |    generate_series(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 0)),
        |    i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'), i, i + 2), ' '))) AS shingle
        |  FROM documents WHERE doc_id < 100) t
        |GROUP BY shingle HAVING COUNT(*) >= 2
        |ORDER BY n DESC, shingle ASC""".stripMargin),
      "3-token shingle extraction (the MinHash feature space)"),

    // --- deterministic stratified sampling ----------------------------
    // Training-data pipelines need REPRODUCIBLE samples (rerun → same
    // rows, any engine, any partitioning). Bernoulli sample() is
    // engine-specific; this uses the engine-replicable LCG hash of the
    // doc id: keep iff mix31(id) < rate·2^31, with per-language rates.
    // en is downsampled to 25%, everything else kept at 75%.
    "x10_deterministic_sample" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val mixed = expr(
          "((((doc_id % 2147483648) * 2654435761 + 2654435769) % 2147483648) * 2654435761 + 40503) % 2147483648")
        val rate = when(col("lang") === "en", lit(0.25)).otherwise(lit(0.75))
        docs.filter(mixed < rate * lit(2147483648.0))
          .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS n_sampled FROM documents
        |WHERE ((((doc_id % 2147483648) * 2654435761 + 2654435769) % 2147483648) * 2654435761 + 40503) % 2147483648
        |      < (CASE WHEN lang = 'en' THEN 0.25 ELSE 0.75 END) * 2147483648.0
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "Reproducible stratified sampling via engine-replicable hash (training-data op)"),

    // --- Gopher-style composite quality filter -------------------------
    // The named filter shape from the Gopher/MassiveText pipeline:
    // token-count window, mean-word-length window, alphabetic-word
    // fraction, minimum stopword evidence — composed into one verdict,
    // reported per language with per-rule failure counts (the knobs a
    // data engineer actually tunes). Thresholds adapted to the corpus'
    // short documents (min 30 tokens instead of 50).
    "x21_quality_filter" -> Q(
      (s, dir) =>
        table(s, dir, "documents")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(QualityGate.ok, 1L).otherwise(0L)).as("n_pass"),
            sum(when(!QualityGate.okLen, 1L).otherwise(0L)).as("fail_len"),
            sum(when(!QualityGate.okAlpha, 1L).otherwise(0L)).as("fail_alpha"),
            sum(when(!QualityGate.okStop, 1L).otherwise(0L)).as("fail_stop"))
          .orderBy("lang"),
      Some(s"""WITH d AS (
        |  $sqlQualitySignals)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN $sqlQualityPass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  CAST(SUM(CASE WHEN NOT (n BETWEEN 30 AND 100000) THEN 1 ELSE 0 END) AS BIGINT) AS fail_len,
        |  CAST(SUM(CASE WHEN NOT (alpha_frac > 0.7) THEN 1 ELSE 0 END) AS BIGINT) AS fail_alpha,
        |  CAST(SUM(CASE WHEN NOT (n_stop >= 2) THEN 1 ELSE 0 END) AS BIGINT) AS fail_stop
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin),
      "Gopher-style composite quality filter: per-language pass and per-rule failure counts"),

    // --- temperature-based source mixing ------------------------------
    // Training mixes upweight small sources: quota_s ∝ n_s^α (α=0.5),
    // rate_s = min(1, T·quota_s/n_s), membership decided by the same
    // engine-replicable LCG as x10 — rerun-stable on any engine or
    // partitioning. The weight sum routes through DECIMAL so w_tot is
    // order-independent (a double sum's value depends on reduction
    // order; a boundary doc would flip).
    "x20_temperature_mix" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val mixed = expr(
          "((((doc_id % 2147483648) * 2654435761 + 2654435769) % 2147483648) * 2654435761 + 40503) % 2147483648")
        val w = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
          .withColumn("wd",
            sqrt(col("n_s").cast("double")).cast("decimal(28,10)"))
        val tot = w.agg(sum(col("wd")).cast("double").as("w_tot"))
        val rates = w.crossJoin(broadcast(tot))
          .withColumn("rate", least(lit(1.0),
            lit(600.0) * col("wd").cast("double") / col("w_tot") /
              col("n_s").cast("double")))
          .select("source", "n_s", "rate")
        docs.join(broadcast(rates), "source")
          .filter(mixed < col("rate") * lit(2147483648.0))
          .groupBy("source")
          .agg(max(col("n_s")).as("n_s"), count(lit(1)).as("n_sampled"))
          .orderBy("source")
      },
      Some("""WITH w AS (
        |  SELECT source, COUNT(*) AS n_s,
        |    CAST(sqrt(CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(28,10)) AS wd
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(wd) AS DOUBLE) AS w_tot FROM w),
        |r AS (SELECT source, n_s,
        |  LEAST(1.0, 600.0 * CAST(wd AS DOUBLE) / w_tot / CAST(n_s AS DOUBLE)) AS rate
        |  FROM w, t)
        |SELECT d.source, MAX(r.n_s) AS n_s, COUNT(*) AS n_sampled
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE ((((d.doc_id % 2147483648) * 2654435761 + 2654435769) % 2147483648) * 2654435761 + 40503) % 2147483648
        |      < r.rate * 2147483648.0
        |GROUP BY d.source ORDER BY d.source""".stripMargin),
      "Temperature mixing (alpha=0.5): small sources upweighted, reproducible membership"),

    // --- HLL sketch surface (A7 extension, SURVEY §7.2) ---------------
    // An approximate aggregate can't hash-match another engine's exact
    // value, but its ERROR CONTRACT can: the query emits the exact
    // distinct-token count plus whether the HyperLogLog++ estimate
    // (rsd=0.02) landed within 5% of it; the oracle asserts the same
    // exact count and a literal TRUE. HLL++ is deterministic for fixed
    // data, so the row is stable — and a sketch regression (or a broken
    // tokenizer) flips the boolean and fails the hash gate loudly.
    "x11_hll_distinct_tokens" -> Q(
      (s, dir) => {
        val toks = table(s, dir, "documents")
          .select(explode(Text.tokens(col("text"))).as("tok"))
        toks.agg(
            countDistinct(col("tok")).as("n_exact"),
            approx_count_distinct(col("tok"), 0.02).as("n_approx"))
          .select(col("n_exact"),
            (abs(col("n_approx") - col("n_exact")) <=
              col("n_exact") * lit(0.05)).as("hll_ok"))
      },
      Some(s"""SELECT COUNT(DISTINCT t) AS n_exact, TRUE AS hll_ok
        |FROM (SELECT UNNEST($sqlTokens) AS t FROM documents)""".stripMargin),
      "HLL++ distinct-token sketch with an oracle-checked 5% error contract"),

    // --- eval-set contamination check ---------------------------------
    // Benchmark decontamination: which training docs share >= 3 distinct
    // 3-token shingles with an eval doc (here: doc_id % 29 == 0 plays the
    // benchmark suite). Same scale shape as x6 — shingle-hash equi-join
    // with the train-side df cap, never a corpus product; the oracle
    // rebuilds the cap, the join, and the overlap fractions on string
    // shingles (hash-set counts equal string-set counts, as in x6).
    "x12_contamination" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        Dedup.crossCorpusOverlap(docs, docs.filter(col("doc_id") % 29 === 0),
            "doc_id", "text", shingleSize = 3, minShared = 3, maxDocFreq = 100)
          .orderBy("eval_id", "train_id")
      },
      Some(s"""WITH sets AS (
        |  SELECT doc_id AS id, unnest(list_distinct($sqlShingles3)) AS sh
        |  FROM documents),
        |capped AS (
        |  SELECT id, sh FROM (
        |    SELECT id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sets)
        |  WHERE df <= 100),
        |esize AS (
        |  SELECT doc_id AS eval_id, len(list_distinct($sqlShingles3)) AS esz
        |  FROM documents WHERE doc_id % 29 = 0),
        |shared AS (
        |  SELECT e.id AS eval_id, t.id AS train_id, COUNT(*) AS n_shared
        |  FROM capped t JOIN sets e ON t.sh = e.sh
        |  WHERE e.id % 29 = 0 AND t.id <> e.id
        |  GROUP BY e.id, t.id HAVING COUNT(*) >= 3)
        |SELECT s.eval_id, s.train_id, CAST(s.n_shared AS BIGINT) AS n_shared,
        |  CAST(s.n_shared AS DOUBLE) / CAST(z.esz AS DOUBLE) AS overlap_frac
        |FROM shared s JOIN esize z ON z.eval_id = s.eval_id
        |ORDER BY s.eval_id, s.train_id""".stripMargin),
      "Eval-set contamination: df-capped shingle overlap between corpora (decontamination op)"),

    // --- within-doc repetition signal (Gopher-style quality rule) ------
    "x13_repetition_ratio" -> Q(
      (s, dir) => {
        val sh = Text.wordShingles(col("text"), 3)
        table(s, dir, "documents")
          .filter(col("doc_id") < 200)
          .select(col("doc_id"),
            size(sh).cast("long").as("n_shingles"),
            size(array_distinct(sh)).cast("long").as("n_distinct"))
          .withColumn("rep_ratio",
            lit(1.0) - col("n_distinct").cast("double") /
              greatest(col("n_shingles"), lit(1L)).cast("double"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
        |  CAST(len($sqlShingles3) AS BIGINT) AS n_shingles,
        |  CAST(len(list_distinct($sqlShingles3)) AS BIGINT) AS n_distinct,
        |  1.0 - CAST(len(list_distinct($sqlShingles3)) AS DOUBLE) /
        |    CAST(greatest(len($sqlShingles3), 1) AS DOUBLE) AS rep_ratio
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin),
      "Repeated-shingle fraction per doc — the within-doc repetition quality signal"),

    // --- TF-IDF top terms ---------------------------------------------
    // Rational idf (N+1)/(df+1) instead of ln(): integer-derived doubles
    // with ONE division are bit-identical across engines, while libm log
    // differs in the last ulp. Document frequencies aggregate from the
    // tf table (already one row per (doc, term)); at scale the df table
    // is vocabulary-sized and broadcast.
    "x14_tfidf_topterms" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = table(s, dir, "documents")
        val toks = docs.select(col("doc_id"),
          explode(Text.tokens(col("text"))).as("tok"))
        val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("tok").asc)
        tf.filter(col("doc_id") < 50)
          .join(broadcast(dfreq), "tok")
          .crossJoin(broadcast(n))
          .withColumn("tfidf", (col("tf") * (col("n_docs") + 1)).cast("double") /
            (col("df") + 1).cast("double"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("tok"), col("tf"), col("df"),
            col("tfidf"), col("rn"))
          .orderBy("doc_id", "rn")
      },
      Some(s"""WITH toks AS (
        |  SELECT doc_id, unnest($sqlTokens) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, tf.tok, tf.tf, dfreq.df,
        |    CAST(tf.tf * (n.n_docs + 1) AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE) AS tfidf
        |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n WHERE doc_id < 50),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rn
        |  FROM scored)
        |SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  tfidf, CAST(rn AS INT) AS rn
        |FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin),
      "TF-IDF top-3 terms per doc (rational idf; vocabulary-sized df table broadcast)"),

    // --- PII scrubbing -------------------------------------------------
    // The corpus is synthetic word soup with no natural PII, so the query
    // PLANTS deterministic emails/phones derived from doc_id (presence
    // varies by id so the counts aren't constant), then counts and
    // redacts them. Patterns live in the Java∩RE2 regex dialect — the
    // oracle runs the literally identical pattern strings.
    "x15_pii_scrub" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val raw = concat(
          when(col("doc_id") % 3 =!= 0,
            concat(lit("u"), col("doc_id").cast("string"), lit("@example.com ")))
            .otherwise(lit("")),
          substring(col("text"), 1, 60),
          when(col("doc_id") % 2 === 0,
            concat(lit(" call ("), (col("doc_id") % 800 + 200).cast("string"),
              lit(") 555-"),
              lpad((col("doc_id") * 7 % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")))
        docs.filter(col("doc_id") < 100)
          .select(col("doc_id"), raw.as("raw"))
          .select(col("doc_id"),
            Text.emailCount(col("raw")).as("n_emails"),
            Text.phoneCount(col("raw")).as("n_phones"),
            Text.redactPii(col("raw")).as("redacted"))
          .orderBy("doc_id")
      },
      Some(s"""WITH raw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 <> 0
        |      THEN 'u' || CAST(doc_id AS VARCHAR) || '@example.com ' ELSE '' END
        |    || substr(text, 1, 60)
        |    || CASE WHEN doc_id % 2 = 0
        |      THEN ' call (' || CAST(doc_id % 800 + 200 AS VARCHAR) || ') 555-'
        |        || lpad(CAST(doc_id * 7 % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    AS raw
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '${Text.emailPattern}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(raw, '${Text.phonePattern}')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(raw, '${Text.emailPattern}', '<EMAIL>', 'g'),
        |    '${Text.phonePattern}', '<PHONE>', 'g') AS redacted
        |FROM raw ORDER BY doc_id""".stripMargin),
      "PII scrub: count + redact emails/phones with engine-identical regexes"),

    // --- duplicate-n-gram coverage -------------------------------------
    // Substring-level duplication signal (the Lee-et-al "Deduplicating
    // Training Data" shape): the fraction of a document's DISTINCT
    // 3-token shingles that also occur in at least one other document.
    // Catches partial/boilerplate overlap that document-level exact
    // dedup (x5) misses and that pairwise Jaccard (x6) only reports for
    // pairs above a threshold. Only (md5-fingerprint, doc_id) pairs
    // shuffle — never text (the x5/x17 posture); document frequency is
    // a full-partition window count over the fingerprint (the capBuckets
    // shape): ONE scan and ONE shuffle on f, where an aggregate +
    // join-back would scan the corpus twice.
    "x22_dup_ngram_coverage" -> Q(
      (s, dir) => {
        val sets = table(s, dir, "documents")
          .select(col("doc_id"),
            explode(array_distinct(Text.wordShingles(col("text"), 3))).as("sh"))
          .select(col("doc_id"), md5(col("sh")).as("f"))
        sets
          .withColumn("df", count(lit(1)).over(Window.partitionBy("f")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .withColumn("dup_coverage",
            col("n_dup").cast("double") /
              greatest(col("n_shingles"), lit(1L)).cast("double"))
          .orderBy("doc_id")
      },
      Some("""WITH sets AS (
        |  SELECT doc_id, md5(sh) AS f FROM (
        |    SELECT doc_id, unnest(list_distinct(
        |      list_transform(generate_series(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 0)),
        |        i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'), i, i + 2), ' ')))) AS sh
        |    FROM documents)),
        |d AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY f) AS df FROM sets)
        |SELECT doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(GREATEST(COUNT(*), 1) AS DOUBLE) AS dup_coverage
        |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "Duplicate-n-gram coverage: per-doc fraction of shingles shared with other docs"),

    // --- DSIR-shaped importance selection -------------------------------
    // The Xie-et-al "Data Selection via Importance Resampling" shape:
    // score each document by how much more likely its hashed-unigram
    // features are under a target domain (here: the en sub-corpus) than
    // under the raw corpus, keep documents where the target wins. This
    // variant is INTEGER-EXACT so the decision is engine-replicable with
    // no float logs: per-doc scores are plain BIGINT sums of add-one-
    // smoothed bucket counts, and the likelihood comparison cross-
    // multiplies by the corpus totals in exact wide arithmetic
    // (DECIMAL(38) here, HUGEINT in the oracle — both exact, same
    // verdict). Buckets are md5-prefix hashes (the engines' one shared
    // hash); only (doc_id, bucket) pairs shuffle. ONE bucket aggregate
    // carries both the raw and target counts (bounded at 16^4 entries
    // at any corpus size → always broadcastable), and the corpus totals
    // fold from that table — two scans of the corpus total, not four.
    "x23_importance_select" -> Q(
      (s, dir) => {
        val toks = table(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            explode(Text.tokens(col("text"))).as("tok"))
          .withColumn("b", substring(md5(col("tok")), 1, 4))
        val buckets = toks.groupBy("b").agg(
          count(lit(1)).as("cr"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
        val totals = buckets.agg(
          sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
        toks.join(buckets, "b")
          .groupBy("doc_id", "lang")
          .agg(sum(col("ct") + 1L).as("st"),
            sum(col("cr") + 1L).as("sr"))
          .crossJoin(totals)
          .withColumn("keep",
            col("st").cast("decimal(38,0)") * col("tr").cast("decimal(38,0)") >
              col("sr").cast("decimal(38,0)") * col("tt").cast("decimal(38,0)"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_selected"))
          .orderBy("lang")
      },
      Some(s"""WITH toks AS (
        |  SELECT doc_id, lang, substr(md5(tok), 1, 4) AS b FROM (
        |    SELECT doc_id, lang, unnest($sqlTokens) AS tok FROM documents)),
        |buckets AS (
        |  SELECT b, COUNT(*) AS cr,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
        |  FROM toks GROUP BY b),
        |tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr,
        |  CAST(SUM(ct) AS BIGINT) AS tt FROM buckets),
        |scored AS (
        |  SELECT doc_id, lang,
        |    SUM(ct + 1) AS st, SUM(cr + 1) AS sr
        |  FROM toks JOIN buckets USING (b)
        |  GROUP BY doc_id, lang)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN CAST(st AS HUGEINT) * tr > CAST(sr AS HUGEINT) * tt
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
        |FROM scored CROSS JOIN tot GROUP BY lang ORDER BY lang""".stripMargin),
      "DSIR-shaped importance selection: integer-exact hashed-unigram " +
        "likelihood ratio vs the en target domain"),

    // --- sequence packing ------------------------------------------------
    // Training batches are fixed token windows cut from concatenated
    // documents (the GPT concat-then-chunk convention): pack_id =
    // exclusive-prefix-sum / budget, so a document starting inside pack p
    // belongs to p even when it spills into p+1. Packing is per SOURCE
    // (the real-world unit — sources are mixed AFTER packing), and the
    // prefix sum is the DISTRIBUTED two-pass shape (operators/PrefixSum:
    // deterministic doc-id blocks, tiny per-block offset table, bounded
    // local windows) — a plain per-source window would sort a whole
    // source in ONE task at 100 TB. SkewSpec asserts the two forms are
    // value-identical.
    "x24_sequence_packing" -> Q(
      (s, dir) =>
        graft.operators.PrefixSum.sequencePacks(
            table(s, dir, "documents")
              .select(col("source"), col("doc_id"),
                Text.tokenCount(col("text")).as("n")),
            "source", "doc_id", "n", budget = 512L)
          .groupBy("source", "pack_id")
          .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
            min(col("doc_id")).as("first_doc"))
          .orderBy("source", "pack_id"),
      Some(s"""WITH d AS (
        |  SELECT source, doc_id, CAST(len($sqlTokens) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n,
        |    CAST(COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start
        |  FROM d)
        |SELECT source, start // 512 AS pack_id,
        |  COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  MIN(doc_id) AS first_doc
        |FROM c GROUP BY source, start // 512
        |ORDER BY source, pack_id""".stripMargin),
      "Sequence packing: concat-then-chunk 512-token packs per source, " +
        "partition-parallel prefix sums"),

    // --- incremental (snapshot-vs-snapshot) dedup -----------------------
    // The recurring-crawl production shape: dedup a NEW batch against the
    // EXISTING corpus without touching the old text — the left-anti join
    // runs on a fingerprint INDEX (here: the fingerprint projection of
    // the old half; in production a maintained fingerprint table), so
    // the old corpus contributes one pruned 16-byte column to the scan,
    // not its text. New-batch-internal dups also collapse (window
    // keep-first on fingerprint), matching what a fresh full dedup would
    // have kept. doc_id >= 250 plays the new crawl.
    "x25_incremental_dedup" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val index = docs.filter(col("doc_id") < 250)
          .select(Text.fingerprint(col("text")).as("f")).distinct()
        // the new crawl: the fresh half, plus re-crawls of 50 indexed
        // pages (must be dropped by the index anti-join) and second
        // copies of 10 fresh pages (must collapse batch-internally) —
        // the corpus itself has zero exact dups, so the drops are
        // planted to exercise both dedup paths for real
        val fresh0 = docs.filter(col("doc_id") >= 250)
        val recrawl = docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 10000L)
        val rebatch = docs.filter(col("doc_id").between(250, 259))
          .withColumn("doc_id", col("doc_id") + 20000L)
        val fresh = fresh0.unionAll(recrawl).unionAll(rebatch)
          .withColumn("f", Text.fingerprint(col("text")))
        val w = Window.partitionBy("f").orderBy("doc_id")
        fresh.join(index, Seq("f"), "left_anti")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_new_unique"))
          .orderBy("lang")
      },
      Some("""WITH idx AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents WHERE doc_id < 250),
        |batch AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 10000, lang, text FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 20000, lang, text FROM documents
        |  WHERE doc_id BETWEEN 250 AND 259),
        |fresh AS (
        |  SELECT doc_id, lang,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM batch),
        |kept AS (
        |  SELECT lang FROM (
        |    SELECT lang, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
        |    FROM fresh WHERE f NOT IN (SELECT f FROM idx))
        |  WHERE rn = 1)
        |SELECT lang, COUNT(*) AS n_new_unique
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin),
      "Incremental dedup: new batch left-anti joined against a fingerprint " +
        "index of the existing corpus (old text never read)"),

    // --- Bloom-prefiltered incremental dedup ----------------------------
    // Same planted crawl as x25, routed through the sketch path a
    // steady-state 100 TB pipeline runs: a Bloom filter over the index
    // fingerprints (a persisted sidecar in production) splits the batch
    // so definitely-new rows NEVER shuffle — only might-contain rows
    // (true dups + the fpp fraction) reach the exact anti-join verify.
    // The sketch routes rows but never decides membership, so the
    // result is exactly x25's anti-join and the oracle is the same
    // Bloom-free SQL (plus kept-token mass, to tell the rows apart).
    "x29_bloom_incremental" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val index = docs.filter(col("doc_id") < 250)
          .select(Text.fingerprint(col("text")).as("f"))
        val fresh0 = docs.filter(col("doc_id") >= 250)
        val recrawl = docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 10000L)
        val rebatch = docs.filter(col("doc_id").between(250, 259))
          .withColumn("doc_id", col("doc_id") + 20000L)
        val batch = fresh0.unionAll(recrawl).unionAll(rebatch)
          .withColumn("f", Text.fingerprint(col("text")))
        val newRows = Dedup.incrementalNewRows(index, batch, "f",
          expectedItems = 1000L, fpp = 0.01)
        val w = Window.partitionBy("f").orderBy("doc_id")
        newRows.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_new"),
            sum(Text.tokenCount(col("text"))).as("n_tokens"))
          .orderBy("lang")
      },
      Some("""WITH idx AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents WHERE doc_id < 250),
        |batch AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id >= 250
        |  UNION ALL
        |  SELECT doc_id + 10000, lang, text FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 20000, lang, text FROM documents
        |  WHERE doc_id BETWEEN 250 AND 259),
        |fresh AS (
        |  SELECT doc_id, lang, text,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM batch),
        |kept AS (
        |  SELECT lang, text FROM (
        |    SELECT lang, text, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
        |    FROM fresh WHERE f NOT IN (SELECT f FROM idx))
        |  WHERE rn = 1)
        |SELECT lang, COUNT(*) AS n_new,
        |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin),
      "Bloom-prefiltered incremental dedup: sketch routes the batch, " +
        "exact anti-join verifies — definitely-new rows never shuffle"),

    // --- incremental NEAR-dup dedup (cross-corpus MinHash) --------------
    // x25/x29 drop exact re-crawls; production crawls also carry LIGHT
    // EDITS of indexed pages (banners, timestamps) that only a near-dup
    // key catches. Dedup.minhashNearDupsCross bands the new batch
    // against the indexed corpus ONLY — no within-side pairs, so the
    // index's internal self-similarity (already deduped once) costs
    // nothing. Exact-verified (the estimate only routes candidates), so
    // the oracle is the Bloom-and-LSH-free exact-Jaccard SQL: batch
    // docs paired at J >= 0.5 with an index doc are dropped, survivors
    // aggregated per language. Within-batch near-dups are NOT dropped —
    // that is x18/x28's batch-local step.
    "x30_incremental_neardup" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val index = docs.filter(col("doc_id") < 250)
        val batch = docs.filter(col("doc_id") >= 250)
        val hits = Dedup.minhashNearDupsCross(index, batch, "doc_id",
          "text", k = 32, bands = 16, shingleSize = 3, threshold = 0.5)
        batch.join(
            hits.select(col("batch_id").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"),
            sum(Text.tokenCount(col("text"))).as("n_tokens"))
          .orderBy("lang")
      },
      Some(s"""WITH pairs AS (
        |${sqlExactJaccardPairsBody(0.5)}
        |),
        |losers AS (
        |  SELECT DISTINCT id2 AS doc_id FROM pairs
        |  WHERE id1 < 250 AND id2 >= 250)
        |SELECT lang, COUNT(*) AS n_kept,
        |  CAST(SUM(len($sqlTokens)) AS BIGINT) AS n_tokens
        |FROM documents d
        |WHERE doc_id >= 250
        |  AND NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = d.doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "Incremental near-dup dedup: new batch LSH-banded against the " +
        "indexed corpus only (no within-side pairs), exact-verified"),

    // --- token-budget selection (data mixing under a budget) ------------
    // The mixing step a training run actually executes: per source, keep
    // the highest-value documents until a token budget fills. Value
    // order here is token count desc (longest-first; any deterministic
    // score column slots in), the budget cut is an EXCLUSIVE prefix sum
    // of token counts in that order — PrefixSum.exclusive over a
    // row_number ordCol, which is DENSE by construction (the operator's
    // documented contract), so the per-(source, block) offsets table
    // stays ~n/8192 rows at any scale and no group is ever sorted in
    // one task. A doc is kept iff the budget is not yet exhausted when
    // it starts (the boundary doc crosses the line — greedy fill).
    "x31_token_budget_select" -> Q(
      (s, dir) => {
        val budget = 2000L
        val docs = table(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            Text.tokenCount(col("text")).as("n"))
        val rw = Window.partitionBy("source")
          .orderBy(col("n").desc, col("doc_id").asc)
        val ranked = docs.withColumn("rn", row_number().over(rw).cast("long"))
        graft.operators.PrefixSum.exclusive(ranked, "source", "rn", "n")
          .filter(col("start") < budget)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n")).as("n_tokens"))
          .orderBy("source")
      },
      Some(s"""WITH d AS (
        |  SELECT source, doc_id, len($sqlTokens) AS n FROM documents),
        |r AS (
        |  SELECT source, n, row_number() OVER (
        |    PARTITION BY source ORDER BY n DESC, doc_id ASC) AS rn
        |  FROM d),
        |c AS (
        |  SELECT source, n,
        |    CAST(COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY rn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start
        |  FROM r)
        |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
        |FROM c WHERE start < 2000
        |GROUP BY source ORDER BY source""".stripMargin),
      "Token-budget selection per source: longest-first greedy fill via " +
        "the distributed exclusive prefix sum (dense row_number ordCol)"),

    // --- boilerplate span removal ---------------------------------------
    // The within-document half of dedup (Lee et al., "Deduplicating
    // Training Data Makes Language Models Better"): instead of dropping
    // whole near-dup documents, strip the SPANS that repeat across the
    // corpus (headers, footers, navigation, license blocks) and keep the
    // unique prose around them. A token is removed iff any 3-token
    // shingle covering it occurs in >= 4 distinct documents. Scale
    // shape: only (128-bit fingerprint, doc, position) rows shuffle; the
    // high-df fingerprint table after the cut is vocabulary-bounded
    // (broadcastable), text itself moves once through the final
    // doc-keyed join; the reconstruction is a position-indexed array
    // filter, no per-token shuffle.
    "x32_boilerplate_strip" -> Q(
      (s, dir) =>
        graft.operators.Dedup.stripBoilerplateSpans(
            table(s, dir, "documents"), "doc_id", "text",
            shingleSize = 3, minDf = 4)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id"),
      Some("""WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |shing AS (
        |  SELECT doc_id, i, md5(array_to_string(list_slice(toks, i, i + 2), ' ')) AS f
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS i
        |        FROM docs)),
        |hid AS (
        |  SELECT f FROM (
        |    SELECT f, COUNT(*) AS df
        |    FROM (SELECT DISTINCT doc_id, f FROM shing) GROUP BY f)
        |  WHERE df >= 4),
        |cov AS (
        |  SELECT DISTINCT s.doc_id, s.i + d.d AS p
        |  FROM shing s JOIN hid USING (f)
        |  CROSS JOIN (SELECT unnest([0, 1, 2]) AS d) d),
        |toksb AS (
        |  SELECT doc_id, unnest(toks) AS t,
        |    unnest(generate_series(1, len(toks))) AS p
        |  FROM docs),
        |kept AS (
        |  SELECT tb.doc_id,
        |    string_agg(CASE WHEN c.p IS NULL THEN tb.t END, ' ' ORDER BY tb.p)
        |      AS cleaned,
        |    COUNT(c.p) AS n_removed
        |  FROM toksb tb LEFT JOIN cov c ON c.doc_id = tb.doc_id AND c.p = tb.p
        |  GROUP BY tb.doc_id)
        |SELECT d.doc_id,
        |  CAST(len(d.toks) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(k.n_removed, 0) AS BIGINT) AS n_removed,
        |  COALESCE(k.cleaned, '') AS cleaned
        |FROM docs d LEFT JOIN kept k USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
      "Boilerplate span removal: strip tokens covered by any 3-gram " +
        "occurring in >= 4 distinct docs; keeps unique prose in order"),

    // --- bigram LM surprisal (perplexity-style quality score) ----------
    // The KenLM-filter shape from production data pipelines: train an
    // add-one-smoothed bigram LM on 90% of the corpus (doc_id % 10 <> 0),
    // score the held-out 10% by surprisal. Cross-engine determinism
    // without transcendentals: the per-term surprisal is the INTEGER
    // floor-log2 gap `len(bin(c1+V)) - len(bin(c2+1))` (bit-length of
    // exact integer counts — bin() exists on both engines), so per-doc
    // sums are order-independent integer arithmetic; log/exp never runs.
    // Scale: the bigram-count table shuffles once (vocab-bounded, far
    // smaller than the corpus); the context-count join is against a
    // unigram-sized table (broadcastable in practice — AQE decides);
    // text itself never crosses the wire, only (doc_id, bigram) pairs.
    "x33_lm_surprisal" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val train = docs.filter(col("doc_id") % 10 =!= 0)
        val trainBg = train
          .select(explode(Text.wordShingles(col("text"), 2)).as("bg"))
        val c2 = trainBg.groupBy("bg").agg(count(lit(1)).as("c2"))
        val c1 = trainBg
          .select(split(col("bg"), " ").getItem(0).as("w1"))
          .groupBy("w1").agg(count(lit(1)).as("c1"))
        val v = train
          .select(explode(Text.tokens(col("text"))).as("t"))
          .agg(countDistinct(col("t")).as("v"))
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"),
            explode(Text.wordShingles(col("text"), 2)).as("bg"))
          .withColumn("w1", split(col("bg"), " ").getItem(0))
          .join(c2, Seq("bg"), "left")
          .join(c1, Seq("w1"), "left")
          .crossJoin(v)
          .select(col("doc_id"), col("c2").isNull.as("oov"),
            (length(bin(coalesce(col("c1"), lit(0L)) + col("v"))) -
              length(bin(coalesce(col("c2"), lit(0L)) + lit(1L))))
              .cast("long").as("bits"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"),
            sum(col("bits")).as("sum_bits"))
          .withColumn("bits_per_bigram",
            col("sum_bits").cast("double") / col("n_bigrams").cast("double"))
          .orderBy("doc_id")
      },
      Some(s"""WITH train AS (
        |  SELECT text FROM documents WHERE doc_id % 10 <> 0),
        |tb AS (SELECT unnest(sh) AS bg FROM (
        |  SELECT $sqlShingles2 AS sh FROM train)),
        |c2 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM tb GROUP BY bg),
        |c1 AS (SELECT string_split(bg, ' ')[1] AS w1,
        |  CAST(COUNT(*) AS BIGINT) AS c1 FROM tb GROUP BY 1),
        |v AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v FROM (
        |  SELECT unnest(CASE WHEN length(trim(text)) = 0
        |    THEN CAST([] AS VARCHAR[])
        |    ELSE string_split_regex(trim(text), '\\s+') END) AS t FROM train)),
        |test AS (SELECT doc_id, unnest(sh) AS bg FROM (
        |  SELECT doc_id, $sqlShingles2 AS sh FROM documents WHERE doc_id % 10 = 0)),
        |terms AS (
        |  SELECT t.doc_id, c2.c2 IS NULL AS oov,
        |    CAST(length(bin(COALESCE(c1.c1, 0) + v.v))
        |      - length(bin(COALESCE(c2.c2, 0) + 1)) AS BIGINT) AS bits
        |  FROM test t
        |  LEFT JOIN c2 USING (bg)
        |  LEFT JOIN c1 ON string_split(t.bg, ' ')[1] = c1.w1
        |  CROSS JOIN v)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(bits) AS BIGINT) AS sum_bits,
        |  CAST(CAST(SUM(bits) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS bits_per_bigram
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      "Bigram-LM surprisal quality score: integer bit-length surprisal, " +
        "train/held-out split, no transcendentals (engine-exact)"),

    // --- stratified sampling with exact largest-remainder allocation ---
    // Language-balanced subcorpus selection (the data-mixing front door):
    // a 5% target budget is allocated across lang strata by the
    // largest-remainder (Hamilton) method — pure integer arithmetic, sums
    // exactly to the target — then each stratum keeps its alloc smallest
    // md5-hash docs (NOT the x10 LCG: an affine hash's consecutive-id
    // outputs defeat threshold prefilters; see Sampling.mix31's caveat).
    // Scale posture: the per-stratum rank does NOT sort
    // the corpus — a hash prefilter (4x-margin threshold, map-side,
    // keeps ~4·alloc of n_g rows; Chernoff makes a shortfall
    // astronomically unlikely, and n_picked < alloc in the output would
    // expose one) bounds the ranked volume to ~4·budget rows TOTAL
    // regardless of corpus size; the allocation table itself is
    // strata-cardinality-sized (bounded) and broadcast.
    "x34_stratified_sample" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_g"))
        val alloc = graft.operators.Sampling
          .largestRemainderAlloc(counts, "lang", "n_g", budgetDiv = 20L)
        graft.operators.Sampling
          .stratifiedPick(docs.select("lang", "doc_id"), "lang", "doc_id", alloc)
          .groupBy("lang")
          .agg(max("n_g").as("n_docs"), max("alloc").as("alloc"),
            count(lit(1)).as("n_picked"),
            sum("doc_id").as("sum_picked_ids"),
            max("h").as("max_picked_hash"))
          .orderBy("lang")
      },
      Some("""WITH counts AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_g FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n FROM counts),
        |a0 AS (
        |  SELECT lang, n_g, n, n // 20 AS target,
        |    (n_g * (n // 20)) // n AS fl,
        |    (n_g * (n // 20)) % n AS rem
        |  FROM counts CROSS JOIN tot),
        |a1 AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, lang ASC) AS rk,
        |    CAST(SUM(fl) OVER () AS BIGINT) AS sumfl
        |  FROM a0),
        |alloc AS (
        |  SELECT lang, n_g,
        |    fl + CASE WHEN rk <= target - sumfl THEN 1 ELSE 0 END AS alloc
        |  FROM a1),
        |pick AS (
        |  SELECT d.lang, d.doc_id, d.h, a.n_g, a.alloc,
        |    row_number() OVER (PARTITION BY d.lang ORDER BY d.h, d.doc_id) AS rn
        |  FROM (SELECT lang, doc_id,
        |      substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h
        |    FROM documents) d
        |  JOIN alloc a USING (lang)
        |  WHERE d.h < CASE WHEN 4 * a.alloc >= a.n_g THEN 'g'
        |    ELSE printf('%08x', (a.alloc * 4 * 4294967296) // a.n_g + 1) END)
        |SELECT lang, MAX(n_g) AS n_docs, MAX(alloc) AS alloc,
        |  COUNT(*) AS n_picked,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_picked_ids,
        |  MAX(h) AS max_picked_hash
        |FROM pick WHERE rn <= alloc
        |GROUP BY lang ORDER BY lang""".stripMargin),
      "Language-balanced 5% sample: exact largest-remainder allocation + " +
        "bounded-volume hash-rank pick per stratum"),

    // --- dedup-method agreement audit ----------------------------------
    // "Measure, don't guess" applied to dedup itself: score each SimHash
    // variant's pair predictions against the exact-Jaccard>=0.5 truth set
    // (computed by the MinHash+verify pipeline, whose output IS the
    // brute-force answer on this corpus — x7's oracle argument).
    // Precision/recall of a cheap similarity proxy is what decides
    // whether a 100 TB pipeline can skip the expensive verify stage; this
    // makes that measurement a first-class auditable query. Runs on a 50%
    // id-sample: an audit needs a sample, not the corpus — the posture
    // that keeps it affordable at any scale (all three pipelines stay
    // bucketed equi-joins; only fingerprints and signatures shuffle).
    // SimHash Hamming distance tracks Jaccard only loosely, so both
    // variants over-predict at radius 32 / under-predict at radius 3 —
    // exactly the trade-off the output quantifies.
    "x35_dedup_agreement" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .filter(col("doc_id") % 2 === 0)
        // ONE signature scan AND one banding/cap/join pass feeds both
        // SimHash lanes (optimization round 17, guide §1.2/§2.4): the
        // radius-3 lane is lane A of the same two-lane signature frame
        // the wide lane consumes (simhash64both — one tokenize+shingle
        // pass for both lanes), and the wide lane's 8-band banding
        // contains the radius-3 lane's 4 bands, so one pass of capped
        // bucket lists yields both pair sets (Dedup.simhashNearDupsAgreement —
        // bit-identical to the two independent pipelines, pinned by
        // TextDedupSpec). The previous shape ran three independent text
        // scans and two independent banding joins.
        val sigs = graft.Graft.ensureParallelism(docs).select(
            col("doc_id").as("id"),
            Text.simhash64both(col("text"), 3).as("sig2"))
          .select(col("id"), col("sig2").getItem(0).as("siga"),
            col("sig2").getItem(1).as("sigb"))
        // truth is consumed TWICE (the left join and the n_true count):
        // without the persist the whole minhash candidates→estimate→
        // verify join tail ran twice per query (measured as duplicated
        // single-task stage pairs in the round-17 profile — both sides
        // paying full compute). With the persist, whichever consumer
        // materializes a cache block first computes it and the other
        // blocks briefly then reads it — consumers stay CONCURRENT
        // (an eager count() here measured SLOWER: it serializes the
        // minhash tail against the simhash lanes on idle cores).
        val truth = graft.Graft.trackedPersist(
          Dedup.minhashNearDups(docs, "doc_id", "text",
              k = 32, bands = 16, shingleSize = 3, threshold = 0.5)
            .select(col("id1"), col("id2")))
        val preds = Dedup.simhashNearDupsAgreement(sigs,
            maxHammingA = 3, maxHammingWide = 32)
          .select(when(col("lane") === "a", lit("simhash_r3"))
            .otherwise(lit("simhash_wide_r32")).as("method"),
            col("id1"), col("id2"))
        preds
          .join(truth.withColumn("hit", lit(1L)), Seq("id1", "id2"), "left")
          .groupBy("method")
          .agg(count(lit(1)).as("n_pred"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .crossJoin(truth.agg(count(lit(1)).as("n_true")))
          .withColumn("prec",
            col("n_hit").cast("double") / col("n_pred").cast("double"))
          .withColumn("recall",
            col("n_hit").cast("double") / col("n_true").cast("double"))
          .orderBy("method")
      },
      Some {
        val half = "(SELECT * FROM documents WHERE doc_id % 2 = 0)"
        def onHalf(sql: String) = sql.replace("FROM documents", s"FROM $half")
        s"""WITH pred3 AS (SELECT id1, id2 FROM (
        |${onHalf(sqlSimhashMirror(maxHamming = 3, cap = 256))})),
        |predw AS (SELECT id1, id2 FROM (
        |${onHalf(sqlSimhash128Mirror(maxHamming = 32, cap = 256))})),
        |preds AS (
        |  SELECT 'simhash_r3' AS method, id1, id2 FROM pred3
        |  UNION ALL SELECT 'simhash_wide_r32' AS method, id1, id2 FROM predw),
        |truth AS (SELECT id1, id2 FROM (
        |${onHalf(sqlExactJaccardPairsBody(0.5))})),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth),
        |hits AS (
        |  SELECT p.method, COUNT(*) AS n_pred,
        |    CAST(SUM(CASE WHEN t.id1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |  FROM preds p LEFT JOIN truth t ON t.id1 = p.id1 AND t.id2 = p.id2
        |  GROUP BY p.method)
        |SELECT method, n_pred, n_hit, n_true,
        |  CAST(n_hit AS DOUBLE) / CAST(n_pred AS DOUBLE) AS prec,
        |  CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall
        |FROM hits CROSS JOIN nt ORDER BY method""".stripMargin
      },
      "Dedup-method agreement audit: SimHash variants scored " +
        "(precision/recall) against the exact-Jaccard truth set on a " +
        "50% sample"),

    // --- content-defined chunking (CDC) dedup ---------------------------
    // Variable-length chunks split where the CONTENT says so (breakpoint
    // iff the token's md5 starts with '0' → P=1/16, mean chunk ~16
    // tokens) — unlike fixed-stride windows (x19), insertions shift
    // chunk BOUNDARIES only locally, so shared passages fingerprint
    // identically wherever they sit in a document (the rsync/FastCDC
    // property, applied to corpus dedup). A 12-token boilerplate tail is
    // planted on every 3rd doc: CDC must isolate and dedup it across
    // docs whose surrounding content is unrelated. Two window passes
    // (per-doc breakpoint cumsum; per-fingerprint df count — the x22
    // shape) + one aggregate; only (fingerprint, doc) rows shuffle.
    "x26_cdc_chunks" -> Q(
      (s, dir) => {
        val boiler = " subscribe to our newsletter for updates and follow us on social media"
        val raw = concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(boiler)).otherwise(lit("")))
        val toks = table(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            posexplode(Text.tokens(raw)).as(Seq("pos", "tok")))
        val marked = toks.withColumn("brk",
          when(substring(md5(col("tok")), 1, 1) === "0", 1L).otherwise(0L))
        val cw = Window.partitionBy("doc_id").orderBy("pos")
        val chunks = marked
          .withColumn("cid", sum(col("brk")).over(cw))
          .groupBy(col("doc_id"), col("lang"), col("cid"))
          .agg(md5(concat_ws(" ",
            transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
              t => t.getField("tok")))).as("ch"))
        chunks
          .withColumn("df", count(lit(1)).over(Window.partitionBy("ch")))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
          .withColumn("dup_chunk_coverage",
            col("n_dup_chunks").cast("double") /
              greatest(col("n_chunks"), lit(1L)).cast("double"))
          .orderBy("lang")
      },
      Some("""WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(generate_series(1, len(ts))) - 1 AS pos, unnest(ts) AS tok
        |  FROM (SELECT doc_id, lang, string_split_regex(trim(text ||
        |      CASE WHEN doc_id % 3 = 0
        |        THEN ' subscribe to our newsletter for updates and follow us on social media'
        |        ELSE '' END), '\s+') AS ts
        |    FROM documents)),
        |marked AS (
        |  SELECT doc_id, lang, pos, tok,
        |    CASE WHEN substr(md5(tok), 1, 1) = '0' THEN 1 ELSE 0 END AS brk
        |  FROM toks),
        |chunks AS (
        |  SELECT doc_id, lang,
        |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS cid,
        |    pos, tok
        |  FROM marked),
        |fps AS (
        |  SELECT doc_id, lang, md5(string_agg(tok, ' ' ORDER BY pos)) AS ch
        |  FROM chunks GROUP BY doc_id, lang, cid),
        |d AS (SELECT lang, COUNT(*) OVER (PARTITION BY ch) AS df FROM fps)
        |SELECT lang, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(GREATEST(COUNT(*), 1) AS DOUBLE) AS dup_chunk_coverage
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin),
      "Content-defined chunking: md5-nibble breakpoints, ordered chunk " +
        "fingerprints, cross-doc duplicate-chunk detection (insertion-robust)"),

    // --- leakage-safe train/eval split -----------------------------------
    // Splitting by document hash leaks: two near-duplicates can land on
    // opposite sides, and the eval half then scores memorization. The
    // leakage-safe unit is the NEAR-DUP CLUSTER — every doc is keyed by
    // its x18 connected-component canonical id (itself for singletons)
    // and the x10 engine-replicable LCG decides the side of the KEY, so
    // whole clusters move together (TextDedupSpec demonstrates the
    // straddle the naive split produces and this one cannot). The oracle
    // closes the same exact pairs with the recursive CTE and replays the
    // identical keying and membership.
    "x27_leakage_safe_split" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val clusters = DedupShared.clusters(s, dir)
        val keyed = docs.join(clusters,
            docs("doc_id") === clusters("member_id"), "left")
          .select(col("lang"),
            coalesce(col("canonical_id"), col("doc_id")).as("gk"))
        val mixed = expr(
          "((((gk % 2147483648) * 2654435761 + 2654435769) % 2147483648) * 2654435761 + 40503) % 2147483648")
        keyed
          .withColumn("split",
            when(mixed < lit(0.8) * lit(2147483648.0), lit("train"))
              .otherwise(lit("eval")))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "split")
      },
      Some(s"""WITH RECURSIVE pairs AS (
        |${sqlExactJaccardPairsBody(0.5)}
        |),
        |edges AS (
        |  SELECT id1 AS a, id2 AS b FROM pairs
        |  UNION ALL SELECT id2, id1 FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |canon AS (
        |  SELECT a AS member_id, LEAST(a, MIN(b)) AS canonical_id
        |  FROM reach GROUP BY a),
        |keyed AS (
        |  SELECT d.lang, COALESCE(c.canonical_id, d.doc_id) AS gk
        |  FROM documents d LEFT JOIN canon c ON d.doc_id = c.member_id)
        |SELECT lang,
        |  CASE WHEN ((((gk % 2147483648) * 2654435761 + 2654435769) % 2147483648) * 2654435761 + 40503) % 2147483648
        |       < 0.8 * 2147483648.0 THEN 'train' ELSE 'eval' END AS split,
        |  COUNT(*) AS n_docs
        |FROM keyed GROUP BY 1, 2 ORDER BY lang, split""".stripMargin),
      "Leakage-safe train/eval split: near-dup clusters move as units, " +
        "keyed by canonical id through the reproducible LCG"),

    // --- duplicate-span extraction (exact-substring dedup) ---------------
    // The window-granular form of Lee et al.'s exact-substring dedup
    // (arXiv:2107.06499 §2.2): fixed-width (8-token) fingerprinted
    // windows replace the suffix array; any window seen in >= 2 distinct
    // docs is duplicated text, and overlapping/adjacent duplicated
    // windows merge (gaps-and-islands) into maximal per-doc spans.
    // Distinct from x32 (high-df boilerplate, strips ALL occurrences)
    // and x22 (coverage fraction only). Scale: one (fp128, id, pos) row
    // per token, a combinable count-distinct per fingerprint, a
    // per-document window for the merge — text never shuffles, no doc
    // pair materializes.
    "x36_dup_spans" -> Q(
      (s, dir) =>
        graft.operators.Dedup.dupSpans(
            table(s, dir, "documents"), "doc_id", "text", width = 8)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id", "span_start"),
      Some(s"""WITH docs AS (
        |  SELECT doc_id, $sqlTokens AS toks FROM documents),
        |wins AS (
        |  SELECT doc_id, i AS b, i + 7 AS e,
        |    md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS f
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i
        |        FROM docs)),
        |dupf AS (
        |  SELECT f FROM (
        |    SELECT f, COUNT(DISTINCT doc_id) AS nd FROM wins GROUP BY f)
        |  WHERE nd >= 2),
        |dup AS (SELECT doc_id, b, e FROM wins JOIN dupf USING (f)),
        |marked AS (
        |  SELECT doc_id, b, e,
        |    MAX(e) OVER (PARTITION BY doc_id ORDER BY b
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS pm
        |  FROM dup),
        |grouped AS (
        |  SELECT doc_id, b, e,
        |    SUM(CASE WHEN b > COALESCE(pm, -1) + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY b ROWS UNBOUNDED PRECEDING)
        |      AS g
        |  FROM marked)
        |SELECT doc_id, MIN(b) AS span_start, MAX(e) AS span_end,
        |  MAX(e) - MIN(b) + 1 AS span_tokens
        |FROM grouped GROUP BY doc_id, g
        |ORDER BY doc_id, span_start""".stripMargin),
      "Exact-substring duplicate spans: 8-token fingerprinted windows, " +
        "cross-doc match, gaps-and-islands merge to maximal spans"),

    // --- keep-first duplicate-span removal (the APPLY side of x36) -------
    // Lee et al.'s all-but-one semantics: for every window fingerprint
    // occurring >= 2 times anywhere (cross- OR within-doc), the globally
    // first occurrence (MIN over the (id, pos) STRUCT — an associative
    // MIN, not a row_number window that would single-task on hot
    // boilerplate fingerprints; the struct has no packing bound, so any
    // document length and id range elect the right keeper) survives;
    // every other occurrence's token range is deleted and the doc
    // re-assembled. Removed coverage is merged SPANS per doc (the x36
    // islands merge), so per-doc state is span-count-bounded even for a
    // boilerplate-heavy 1M-token document.
    "x37_dedup_spans_keep_first" -> Q(
      (s, dir) =>
        graft.operators.Dedup.dedupSpansKeepFirst(
            table(s, dir, "documents"), "doc_id", "text", width = 8)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id"),
      Some(s"""WITH docs AS (
        |  SELECT doc_id, $sqlTokens AS toks FROM documents),
        |wins AS (
        |  SELECT doc_id, i AS b, i + 7 AS e,
        |    md5(array_to_string(list_slice(toks, i, i + 7), ' ')) AS f
        |  FROM (SELECT doc_id, toks,
        |          unnest(generate_series(1, greatest(len(toks) - 7, 0))) AS i
        |        FROM docs)),
        |keeper AS (
        |  SELECT f, COUNT(*) AS n, MIN(ROW(doc_id, b)) AS keep
        |  FROM wins GROUP BY f),
        |rmw AS (
        |  SELECT w.doc_id, w.b, w.e
        |  FROM wins w JOIN keeper k USING (f)
        |  WHERE k.n >= 2 AND ROW(w.doc_id, w.b) <> k.keep),
        |marked AS (
        |  SELECT doc_id, b, e,
        |    MAX(e) OVER (PARTITION BY doc_id ORDER BY b
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS pm
        |  FROM rmw),
        |grouped AS (
        |  SELECT doc_id, b, e,
        |    SUM(CASE WHEN b > COALESCE(pm, -1) + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY b ROWS UNBOUNDED PRECEDING)
        |      AS g
        |  FROM marked),
        |spans AS (
        |  SELECT doc_id, MIN(b) AS s, MAX(e) AS e
        |  FROM grouped GROUP BY doc_id, g),
        |agg AS (
        |  SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS n_removed
        |  FROM spans GROUP BY doc_id),
        |toksb AS (
        |  SELECT doc_id, unnest(toks) AS t,
        |    unnest(generate_series(1, len(toks))) AS p
        |  FROM docs),
        |kept AS (
        |  SELECT tb.doc_id,
        |    string_agg(CASE WHEN sp.doc_id IS NULL THEN tb.t END,
        |      ' ' ORDER BY tb.p) AS cleaned
        |  FROM toksb tb LEFT JOIN spans sp
        |    ON sp.doc_id = tb.doc_id AND tb.p >= sp.s AND tb.p <= sp.e
        |  GROUP BY tb.doc_id)
        |SELECT d.doc_id,
        |  CAST(len(d.toks) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed,
        |  COALESCE(k.cleaned, '') AS cleaned
        |FROM docs d
        |LEFT JOIN agg a USING (doc_id)
        |LEFT JOIN kept k USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
      "Keep-first exact-substring dedup apply: globally-first window " +
        "occurrence survives, later occurrences' token ranges stripped"),

    // --- the end-to-end CROSS-MODAL curation pipeline --------------------
    // What a training-data pipeline actually ships per document: one
    // keep/drop decision with its reason, composing three independent
    // gates over both modalities —
    //   near_dup:    x18's MinHash cluster losers (text);
    //   sem_dup:     v10's SemDeDup drop set (embeddings, joined on
    //                doc_id = vec_id; docs without an embedding can't
    //                be semantically deduped and pass this gate);
    //   low_quality: x21's Gopher-style composite filter (text).
    // Reason precedence is declared (near_dup > sem_dup > low_quality —
    // dedup drops are cheaper to re-derive than quality drops are to
    // re-audit, so the most-load-bearing label wins). All three gates
    // reuse their suite's shared session state (DedupShared clusters,
    // hierDyn cells); the oracle composes the same three mirrors —
    // recursive-CTE components, the v10 drop CTEs, the x21 quality
    // expressions — and replays the identical precedence CASE.
    "x38_curation_pipeline" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val losers = DedupShared.clusters(s, dir)
          .filter(col("canonical_id") =!= col("member_id"))
          .select(col("member_id").as("doc_id"),
            lit(true).as("is_near_dup"))
        val sem = graft.queries.VectorSuite.semDrops(s, dir)
          .select(col("drop_id").as("doc_id"), lit(true).as("is_sem_dup"))
        val reason = when(col("is_near_dup"), "near_dup")
          .when(col("is_sem_dup"), "sem_dup")
          .when(!col("quality_ok"), "low_quality")
          .otherwise("kept")
        docs.select(col("doc_id"), QualityGate.ok.as("quality_ok"))
          .join(losers, Seq("doc_id"), "left")
          .join(sem, Seq("doc_id"), "left")
          .select(col("doc_id"), reason.as("reason"))
          .withColumn("keep", col("reason") === "kept")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE pairs AS (
        |${sqlExactJaccardPairsBody(0.5)}
        |),
        |edges AS (
        |  SELECT id1 AS a, id2 AS b FROM pairs
        |  UNION ALL SELECT id2, id1 FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |canon AS (
        |  SELECT a AS member_id, LEAST(a, MIN(b)) AS canonical_id
        |  FROM reach GROUP BY a),
        |losers AS (
        |  SELECT member_id FROM canon WHERE member_id <> canonical_id),
        |${graft.queries.VectorSuite.sqlSemDropsCtes},
        |qual AS (
        |  SELECT doc_id, ($sqlQualityPass) AS ok
        |  FROM ($sqlQualitySignals)),
        |decided AS (
        |  SELECT d.doc_id,
        |    CASE WHEN l.member_id IS NOT NULL THEN 'near_dup'
        |         WHEN dr.drop_id IS NOT NULL THEN 'sem_dup'
        |         WHEN NOT q.ok THEN 'low_quality'
        |         ELSE 'kept' END AS reason
        |  FROM documents d
        |  LEFT JOIN losers l ON l.member_id = d.doc_id
        |  LEFT JOIN drops dr ON dr.drop_id = d.doc_id
        |  LEFT JOIN qual q ON q.doc_id = d.doc_id)
        |SELECT doc_id, reason, (reason = 'kept') AS keep
        |FROM decided ORDER BY doc_id""".stripMargin),
      "End-to-end cross-modal curation: one keep/drop decision per doc " +
        "with declared reason precedence (near_dup > sem_dup > " +
        "low_quality), composing x18 clusters, v10 SemDeDup drops, and " +
        "the x21 quality gate"),

    // --- eval decontamination APPLIED (the x12 report's apply side) -----
    // The GPT-3/Llama practice: before training, REMOVE every train
    // document sharing >= minShared df-capped shingles with any eval
    // document — x12 reports the contaminated pairs; this ships the
    // decontaminated corpus. Same operator (crossCorpusOverlap: train
    // side exploded + df-capped, eval side broadcastable, count-distinct
    // per pair — never an all-pairs product), train/eval split by the
    // x12 rule (doc_id % 29). Output: per-language train size, removed
    // count, and surviving token budget.
    "x39_decontaminate_apply" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val evalSet = docs.filter(col("doc_id") % 29 === 0)
        val train = docs.filter(col("doc_id") % 29 =!= 0)
        val removed = graft.operators.Dedup.crossCorpusOverlap(
            train, evalSet, "doc_id", "text",
            shingleSize = 3, minShared = 3, maxDocFreq = 100)
          .select(col("train_id").as("doc_id")).distinct()
          .withColumn("rm", lit(true))
        train.join(removed, Seq("doc_id"), "left")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_train"),
            sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"),
            sum(when(col("rm").isNull, Text.tokenCount(col("text")))
              .otherwise(0L)).as("n_tokens_kept"))
          .orderBy("lang")
      },
      Some(s"""WITH train AS (
        |  SELECT * FROM documents WHERE doc_id % 29 <> 0),
        |ev AS (
        |  SELECT * FROM documents WHERE doc_id % 29 = 0),
        |tsets AS (
        |  SELECT doc_id AS id, unnest(list_distinct($sqlShingles3)) AS sh
        |  FROM train),
        |capped AS (
        |  SELECT id, sh FROM (
        |    SELECT id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM tsets)
        |  WHERE df <= 100),
        |esets AS (
        |  SELECT doc_id AS eval_id, unnest(list_distinct($sqlShingles3)) AS sh
        |  FROM ev),
        |shared AS (
        |  SELECT e.eval_id, t.id, COUNT(*) AS n_shared
        |  FROM capped t JOIN esets e ON t.sh = e.sh
        |  WHERE t.id <> e.eval_id
        |  GROUP BY e.eval_id, t.id HAVING COUNT(*) >= 3),
        |removed AS (SELECT DISTINCT id AS doc_id FROM shared)
        |SELECT d.lang, COUNT(*) AS n_train,
        |  CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  CAST(SUM(CASE WHEN r.doc_id IS NULL THEN len($sqlTokens) ELSE 0 END) AS BIGINT)
        |    AS n_tokens_kept
        |FROM train d LEFT JOIN removed r USING (doc_id)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin),
      "Eval decontamination applied: train docs sharing >=3 df-capped " +
        "shingles with any eval doc are dropped before training — " +
        "per-language survivors and token budget")
  )

  /** Exact 3-token-shingle Jaccard pairs >= threshold over the full
    * documents table — the oracle for BOTH the capped explode/equi-join
    * operator (x6) and the MinHash+LSH pipeline (x7), whose verification
    * stage makes its output equal to the exact answer.
    *
    * With `maxDocFreq > 0` the candidate set is restricted to pairs
    * sharing at least one shingle with document frequency <= maxDocFreq —
    * the exact mirror of `Dedup.ngramJaccardPairs`' ubiquitous-shingle
    * cap (Jaccard itself is still computed over the full sets).
    */
  private def sqlExactJaccardPairs(threshold: Double, maxDocFreq: Int = 0): String =
    sqlExactJaccardPairsBody(threshold, maxDocFreq) +
      "\nORDER BY id1, id2"

  /** The exact-pairs query WITHOUT the final ORDER BY, so callers can
    * embed it as a CTE (x18 builds connected components over it).
    */
  private def sqlExactJaccardPairsBody(threshold: Double, maxDocFreq: Int = 0): String = {
    val candCte = if (maxDocFreq > 0)
      s"""|capped AS (
        |  SELECT id, sh FROM (
        |    SELECT id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM sets)
        |  WHERE df <= $maxDocFreq),
        |cands AS (
        |  SELECT DISTINCT l.id AS id1, r.id AS id2
        |  FROM capped l JOIN capped r ON l.sh = r.sh AND l.id < r.id),
        |""".stripMargin
    else ""
    val candJoin = if (maxDocFreq > 0)
      "JOIN cands c ON c.id1 = common.id1 AND c.id2 = common.id2\n" else ""
    s"""WITH sets AS (
      |  SELECT doc_id AS id, unnest(list_distinct(
      |    list_transform(generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 0)),
      |      i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i, i + 2), ' ')))) AS sh
      |  FROM documents),
      |${candCte}sizes AS (SELECT id, COUNT(*) AS sz FROM sets GROUP BY id),
      |common AS (
      |  SELECT l.id AS id1, r.id AS id2, COUNT(*) AS inter
      |  FROM sets l JOIN sets r ON l.sh = r.sh AND l.id < r.id
      |  GROUP BY l.id, r.id)
      |SELECT common.id1 AS id1, common.id2 AS id2,
      |  CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) AS jaccard
      |FROM common
      |${candJoin}JOIN sizes s1 ON s1.id = common.id1
      |JOIN sizes s2 ON s2.id = common.id2
      |WHERE CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= $threshold""".stripMargin
  }

  /** Full DuckDB mirror of the SimHash near-dup pipeline: identical
    * 62-bit signatures (SimHashImpl's integer arithmetic in SQL) over
    * 3-token shingles, 4×16-bit band blocks, bucket cap, candidate
    * self-join, Hamming verify.
    */
  /** Full DuckDB mirror of the TWO-LANE (124-bit) SimHash pipeline: the
    * same engine-replicable integer arithmetic as sqlSimhashMirror, with
    * a second signature from the independent (13,41)/(29,43) hash family,
    * 8 band blocks (4 per lane), and the SUMMED Hamming verify.
    */
  private def sqlSimhash128Mirror(maxHamming: Int, cap: Int): String = {
    val M = "2147483648"
    def fin(x: String) =
      s"((((($x) * 2654435761 + 2654435769) % $M) * 2654435761 + 40503) % $M)"
    def poly(init: Int, mult: Int) = fin(
      s"list_reduce(list_prepend(CAST($init AS BIGINT), " +
        s"list_transform(range(1, length(t) + 1), j -> CAST(unicode(substr(t, j, 1)) AS BIGINT))), " +
        s"(a, c) -> (a * $mult + c) % $M)")
    val shingles = "list_transform(" +
      "generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 0)), " +
      "i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i, i + 2), ' '))"
    val hashed = s"list_transform($shingles, " +
      s"t -> [${poly(0, 31)}, ${poly(7, 37)}, ${poly(13, 41)}, ${poly(29, 43)}])"
    def half(hIdx: Int, shift: Int) =
      s"""list_sum(list_transform(range(0, 31), b ->
        |    CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN ((h[$hIdx] >> CAST(b AS INT)) & 1) = 1 THEN 1 ELSE -1 END)) > 0
        |      THEN CAST(1 AS BIGINT) << CAST(b + $shift AS INT) ELSE CAST(0 AS BIGINT) END))""".stripMargin
    s"""WITH hashed AS (
      |  SELECT doc_id AS id,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS BIGINT[][])
      |         ELSE $hashed END AS hs
      |  FROM documents),
      |sigs AS (
      |  SELECT id,
      |    CAST(COALESCE(${half(1, 0)}, 0) + COALESCE(${half(2, 31)}, 0) AS BIGINT) AS siga,
      |    CAST(COALESCE(${half(3, 0)}, 0) + COALESCE(${half(4, 31)}, 0) AS BIGINT) AS sigb
      |  FROM hashed),
      |banded AS (
      |  SELECT id, siga, sigb, band,
      |    CASE WHEN band < 4 THEN (siga >> CAST(band * 16 AS INT)) & 65535
      |         ELSE (sigb >> CAST((band - 4) * 16 AS INT)) & 65535 END AS block
      |  FROM sigs, (SELECT unnest(range(0, 8)) AS band)),
      |capped AS (
      |  SELECT * FROM (
      |    SELECT *, COUNT(*) OVER (PARTITION BY band, block) AS c FROM banded)
      |  WHERE c <= $cap)
      |SELECT DISTINCT l.id AS id1, r.id AS id2,
      |  CAST(bit_count(xor(l.siga, r.siga)) + bit_count(xor(l.sigb, r.sigb)) AS BIGINT) AS hamming
      |FROM capped l JOIN capped r
      |  ON l.band = r.band AND l.block = r.block AND l.id < r.id
      |WHERE bit_count(xor(l.siga, r.siga)) + bit_count(xor(l.sigb, r.sigb)) <= $maxHamming
      |ORDER BY id1, id2""".stripMargin
  }

  /** `scope` replaces the `documents` source relation — pass a derived
    * table (e.g. x8b's fixed-size shard) instead of post-hoc string
    * surgery on the rendered SQL.
    */
  private def sqlSimhashMirror(maxHamming: Int, cap: Int,
      scope: String = "documents"): String = {
    val M = "2147483648"
    def fin(x: String) =
      s"((((($x) * 2654435761 + 2654435769) % $M) * 2654435761 + 40503) % $M)"
    def poly(init: Int, mult: Int) = fin(
      s"list_reduce(list_prepend(CAST($init AS BIGINT), " +
        s"list_transform(range(1, length(t) + 1), j -> CAST(unicode(substr(t, j, 1)) AS BIGINT))), " +
        s"(a, c) -> (a * $mult + c) % $M)")
    // per-doc list of [h1, h2] hash pairs over 3-token shingles
    val shingles = "list_transform(" +
      "generate_series(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 0)), " +
      "i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), i, i + 2), ' '))"
    val hashed = s"list_transform($shingles, t -> [${poly(0, 31)}, ${poly(7, 37)}])"
    def half(hIdx: Int, shift: Int) =
      s"""list_sum(list_transform(range(0, 31), b ->
        |    CASE WHEN list_sum(list_transform(hs, h ->
        |        CASE WHEN ((h[$hIdx] >> CAST(b AS INT)) & 1) = 1 THEN 1 ELSE -1 END)) > 0
        |      THEN CAST(1 AS BIGINT) << CAST(b + $shift AS INT) ELSE CAST(0 AS BIGINT) END))""".stripMargin
    s"""WITH hashed AS (
      |  SELECT doc_id AS id,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS BIGINT[][])
      |         ELSE $hashed END AS hs
      |  FROM $scope),
      |sigs AS (
      |  SELECT id, CAST(COALESCE(${half(1, 0)}, 0) + COALESCE(${half(2, 31)}, 0) AS BIGINT) AS sig
      |  FROM hashed),
      |banded AS (
      |  SELECT id, sig, band, (sig >> CAST(band * 16 AS INT)) & 65535 AS block
      |  FROM sigs, (SELECT unnest(range(0, 4)) AS band)),
      |capped AS (
      |  SELECT * FROM (
      |    SELECT *, COUNT(*) OVER (PARTITION BY band, block) AS c FROM banded)
      |  WHERE c <= $cap)
      |SELECT DISTINCT l.id AS id1, r.id AS id2,
      |  CAST(bit_count(xor(l.sig, r.sig)) AS BIGINT) AS hamming
      |FROM capped l JOIN capped r
      |  ON l.band = r.band AND l.block = r.block AND l.id < r.id
      |WHERE bit_count(xor(l.sig, r.sig)) <= $maxHamming
      |ORDER BY id1, id2""".stripMargin
  }
}
