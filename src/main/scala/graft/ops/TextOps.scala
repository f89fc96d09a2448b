package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.functions._

/** North-star text-analysis operators beyond SURVEY §2 K's original rows:
  * language identification (n-gram/stopword heuristic), tokenization
  * statistics (whitespace + BPE-ish regex), and document fingerprinting
  * (k-gram winnowing).
  *
  * Scale notes: all three are embarrassingly parallel scan→project/groupBy
  * pipelines; language-ID and token stats stay in whole-stage codegen, the
  * fingerprint explode is rows-out ∝ fingerprints with no shuffle until the
  * consumer joins on fingerprint (which is exactly the near-dup bucket-join
  * shape again).
  */
object TextOps {

  /** Stopword marker sets per language — a deterministic heuristic scorer
    * (count of distinct marker tokens present), argmax with alphabetical
    * tie-break. On the synthetic database-vocabulary corpus most docs score
    * highest for 'en' ("the"/"a" are in the vocabulary); TextSpec proves the
    * classifier on genuine per-language fixtures. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "los", "de", "y", "es", "que"),
    "fr" -> Seq("le", "la", "et", "les", "est", "que"),
    "zh" -> Seq("的", "是", "在", "了", "不", "我"))

  val textLangId: Op = Op(
    "text_lang_id",
    (s, d) => {
      val words = array_distinct(split(col("text"), " "))
      val scored = Tables.documents(s, d)
        .select((col("doc_id") +: col("lang").as("labeled_lang") +:
          markers.map { case (lang, ms) =>
            size(array_intersect(words, array(ms.map(lit(_)): _*))).as(s"s_$lang")
          }): _*)
      val Seq(de, en, es, fr, zh) = markers.map { case (l, _) => col(s"s_$l") }
      scored
        .withColumn("pred_lang",
          when(de >= en && de >= es && de >= fr && de >= zh, "de")
            .when(en >= es && en >= fr && en >= zh, "en")
            .when(es >= fr && es >= zh, "es")
            .when(fr >= zh, "fr")
            .otherwise("zh"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, lang AS labeled_lang, s_de, s_en, s_es, s_fr, s_zh, " +
      "CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de' " +
      "WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en' " +
      "WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es' " +
      "WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred_lang FROM " +
      "(SELECT doc_id, lang, " +
      markers.map { case (lang, ms) =>
        val lst = ms.map(m => s"'$m'").mkString("[", ", ", "]")
        s"CAST(len(list_distinct(list_intersect(string_split(text, ' '), $lst))) AS INT) AS s_$lang"
      }.mkString(", ") +
      " FROM documents) ORDER BY doc_id"))

  /** Token counting: whitespace tokens, BPE-ish subword chunks (greedy
    * ≤4-char alpha runs — identical greedy-regex semantics on both engines),
    * and alpha char count, plus chars-per-subtoken. */
  val textTokenStats: Op = Op(
    "text_token_stats",
    (s, d) =>
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0))).as("n_subtokens"),
          length(expr("replace(text, ' ', '')")).as("n_alpha"))
        .withColumn("chars_per_subtoken",
          col("n_alpha").cast("double") / col("n_subtokens"))
        .orderBy("doc_id"),
    Some("SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens, " +
      "CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS INT) AS n_subtokens, " +
      "CAST(length(replace(text, ' ', '')) AS INT) AS n_alpha, " +
      "CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(regexp_extract_all(text, '[a-z]{1,4}')) AS chars_per_subtoken " +
      "FROM documents ORDER BY doc_id"))

  /** sf-scoped staging path for the positional rolling-hash table — written
    * by the query, read by the DuckDB oracle (same [[Stage]] lifecycle as
    * dedup_simhash's signature table; deliberately outside Housekeeping). */
  def fingerprintStagePath(sfDir: String): String =
    Stage.root(sfDir) + "/fingerprint_hashes"

  /** Document fingerprinting by winnowing: rolling word-3-gram hashes, min
    * over each window of 4 consecutive hashes, distinct — the classic
    * near-dup sketch (identical docs ⇒ identical fingerprint sets; near-dups
    * share most fingerprints).
    *
    * Oracle note (the persisted-intermediate playbook, like dedup_simhash):
    * the hash VALUES are xxhash64 — engine-specific, so they live in a
    * staged (doc_id, pos, h) table the query writes; the WINNOWING — the
    * part this op actually adds — is recomputed independently by DuckDB as
    * a relational sliding min (window min over pos, full windows only,
    * distinct) over the same hashes. A fused-expression bug in
    * [[graft.functions.WinnowMins]] therefore fails the hash compare;
    * TextSpec additionally asserts the fused expression equals the
    * relational array spelling in-engine. */
  val textFingerprint: Op = Op(
    "text_fingerprint",
    (s, d) => {
      val words = split(col("text"), " ")
      // The hash-array base now has TWO consumers (the staged positional
      // table and the fp explode), so it MUST be materialized: an uncached
      // posexplode lets InferFiltersFromGenerate re-derive the whole
      // O(words²) hash tree inside the injected not-null/size filter — the
      // same trap documented on LlmOps.shingleOccurrences (measured here: 0.4 s →
      // 4.1 s at sf0.1 when the cache barrier was briefly dropped).
      val base = Housekeeping.cacheBounded("fp_base", Tables.documents(s, d)
        .withColumn("words", words)
        // >= 6 words ⇒ exactly size(words)-2 >= 4 shingle hashes, so no
        // post-hs size filter needed
        .where(size(col("words")) >= 6)
        .withColumn("hs", transform(
          sequence(lit(0), size(col("words")) - 3),
          i => xxhash64(concat_ws(" ", element_at(col("words"), i + 1),
            element_at(col("words"), i + 2), element_at(col("words"), i + 3)))))
        .select(col("doc_id"), col("hs")))
      base.select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
        .write.mode("overwrite").parquet(fingerprintStagePath(d))
      // fused sliding-min ([[graft.functions.WinnowMins]]) — same values as
      // the array_distinct(transform(...array_min(slice)...)) spelling,
      // asserted equivalent in TextSpec
      base
        .withColumn("fp", explode(graft.functions.GraftFunctions.winnowMins(col("hs"), 4)))
        .select("doc_id", "fp")
        .orderBy("doc_id", "fp")
    },
    Some("WITH h AS (SELECT doc_id, pos, h FROM " +
      s"read_parquet('${Stage.token}/fingerprint_hashes/*.parquet')), " +
      "m AS (SELECT doc_id, pos, min(h) OVER (PARTITION BY doc_id ORDER BY pos " +
      "ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp, " +
      "count(*) OVER (PARTITION BY doc_id) AS n FROM h) " +
      "SELECT DISTINCT doc_id, fp FROM m WHERE pos + 4 <= n ORDER BY doc_id, fp"))

  /** Tokenizer-vocabulary induction, step one of BPE: the most frequent
    * ADJACENT CHARACTER PAIR across the corpus, weighted by word frequency —
    * exactly the statistic the first BPE merge is chosen from. The corpus
    * collapses to its word-frequency VOCABULARY first (one groupBy; shuffle ∝
    * distinct words, which saturates by Heaps' law while the corpus keeps
    * growing), and the pair explosion then runs over vocabulary entries, not
    * corpus tokens — the reason real BPE trainers operate on (word, freq)
    * tables. Counts are exact integers; ties break on the pair string
    * (lowercase ASCII ⇒ identical collation on both engines). */
  val textBpePairs: Op = Op(
    "text_bpe_pairs",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val vocab = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
        .where(length(col("tok")) >= 2)
      val counts = vocab
        .select(col("freq"), explode(transform(
          sequence(lit(1), length(col("tok")) - 1),
          i => col("tok").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("n"))
      val top = counts.orderBy(col("n").desc, col("pair").asc).limit(20)
      val w = Window.orderBy(col("n").desc, col("pair").asc)
      top.withColumn("rank", row_number().over(w))
        .select("rank", "pair", "n")
        .orderBy("rank")
    },
    Some("WITH v AS (SELECT tok, COUNT(*) AS freq FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY 1), " +
      "p AS (SELECT unnest(list_transform(generate_series(1, length(tok) - 1), " +
      "i -> substr(tok, i, 2))) AS pair, freq FROM v WHERE length(tok) >= 2), " +
      "c AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM p GROUP BY 1), " +
      "r AS (SELECT pair, n, CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rank FROM c) " +
      "SELECT rank, pair, n FROM r WHERE rank <= 20 ORDER BY rank"))

  /** BPE step 2 — APPLY a learned merge list, the half of the tokenizer
    * story a pipeline actually runs at corpus scale: the top-20 adjacent-pair
    * merges from the induction step ([[textBpePairs]]), applied greedily in
    * rank order to every vocabulary word. Work ∝ vocab (the corpus collapses
    * to its (word, freq) table first, same as induction), and the merge list
    * itself is the ≤ 20-row learned artifact collected to the driver — the
    * same driver-round-trip class as the k-means centroids.
    *
    * Merge application is spelled so both engines share exact semantics with
    * NO per-word loop: a word becomes the '|'-delimited symbol string
    * ("|h|e|l|l|o|"; '|' is outside the corpus alphabet [a-z ]), and merge
    * (a,b) is one plain substring replace of "|a|b|" with "|ab|" — plain
    * replace() is left-to-right non-overlapping in both Spark and DuckDB
    * ("|a|a|a|" + merge "aa" → "|aa|a|", verified), and a merged symbol can't
    * re-match its parts because the pattern requires both delimiters. The 20
    * merges chain as 20 nested codegen'd replaces on the Spark side and a
    * rank-joined WITH RECURSIVE on the oracle side — identical fixpoint.
    * Ranking ties break (n DESC, pair ASC): exact ints + ASCII collation. */
  val textBpeApply: Op = Op(
    "text_bpe_apply",
    (s, d) => {
      val vocab = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val merges = vocab.where(length(col("tok")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), length(col("tok")) - 1),
          i => col("tok").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair").asc).limit(20)
        .collect().map(_.getString(0)).toIndexedSeq
      val init = concat(lit("|"), regexp_replace(col("tok"), "(.)", "$1|"))
      val merged = merges.foldLeft(init)((c, p) =>
        replace(c, lit(s"|${p.charAt(0)}|${p.charAt(1)}|"), lit(s"|$p|")))
      vocab
        .withColumn("pieces", replace(trim(merged, "|"), lit("|"), lit(" ")))
        .select(col("tok"), col("freq"),
          size(split(col("pieces"), " ")).as("n_pieces"), col("pieces"))
        .orderBy("tok")
    },
    Some(raw"""WITH RECURSIVE
      v AS (SELECT tok, COUNT(*) AS freq FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY 1),
      pc AS (SELECT unnest(list_transform(generate_series(1, length(tok) - 1), i -> substr(tok, i, 2))) AS pair, freq FROM v WHERE length(tok) >= 2),
      c AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM pc GROUP BY 1),
      m AS (SELECT pair, r FROM (SELECT pair, CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS r FROM c) WHERE r <= 20),
      step AS (
        SELECT tok, freq, '|' || regexp_replace(tok, '(.)', '\1|', 'g') AS s, 0 AS r FROM v
        UNION ALL
        SELECT step.tok, step.freq,
               replace(step.s, '|' || substr(m.pair, 1, 1) || '|' || substr(m.pair, 2, 1) || '|', '|' || m.pair || '|'),
               step.r + 1
        FROM step JOIN m ON m.r = step.r + 1)
      SELECT tok, freq, CAST(len(string_split(pieces, ' ')) AS INT) AS n_pieces, pieces FROM (
        SELECT tok, freq, replace(trim(s, '|'), '|', ' ') AS pieces FROM step
        WHERE r = (SELECT COUNT(*) FROM m))
      ORDER BY tok""".linesIterator.map(_.trim).mkString(" ")))

  /** Heavy-hitter tokens via the sketch-proposes/exact-verifies pattern: a
    * Space-Saving sketch ([[graft.functions.SpaceSavingTopK]], a native
    * TypedImperativeAggregate — partial sketches merge map-side, the token
    * stream never shuffles) proposes ≤ capacity candidates in one pass; the
    * exact count then runs ONLY over candidate rows (semi-join before the
    * shuffle), and the top-10 with exact counts is emitted. The oracle is
    * DuckDB's exact global top-10 — hash equality proves the sketch never
    * missed a true heavy hitter. Why this shape at 100 TB: when the token
    * universe explodes (urls, ids), the exact groupBy over everything is the
    * bottleneck; the sketch is fixed-memory and the verified count touches
    * only candidate rows. Capacity 64 exceeds this corpus's 31-token
    * vocabulary, so the sketch is exact here (and bit-deterministic across
    * partitionings — DeterminismSpec); the N/capacity error bound is the
    * guarantee at width. */
  val textHeavyHitters: Op = Op(
    "text_heavy_hitters",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      def toks = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
      val cand = toks
        .agg(graft.functions.GraftFunctions.heavyHitters(col("tok"), 64).as("cands"))
        .select(explode(col("cands")).as("tok"))
      val w = Window.orderBy(col("n").desc, col("tok").asc)
      toks.join(broadcast(cand), Seq("tok"), "left_semi")
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc).limit(10)
        .withColumn("rank", row_number().over(w))
        .select("rank", "tok", "n")
        .orderBy("rank")
    },
    Some("WITH c AS (SELECT tok, COUNT(*) AS n FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS tok FROM documents) GROUP BY 1), " +
      "r AS (SELECT tok, n, CAST(row_number() OVER (ORDER BY n DESC, tok) AS INT) AS rank FROM c) " +
      "SELECT rank, tok, n FROM r WHERE rank <= 10 ORDER BY rank"))

  /** Email / IPv4 patterns shared by the scrub op and its spec. Both are
    * expressible identically in Java regex (Spark) and RE2 (DuckDB):
    * character classes, bounded repetition, and \b word boundaries only — no
    * backtracking-dependent constructs, so the two engines match the same
    * spans. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrubbing — the redaction pass every public-corpus pipeline runs
    * before training: count and replace email addresses and IPv4 literals
    * per document, emitting the redaction counts plus an md5 of the scrubbed
    * text (the full text stays out of the result; the hash still proves both
    * engines produced byte-identical redactions). Scan-local, fully codegen
    * (regexp_count / regexp_replace), zero shuffle — the 100 TB cost is one
    * pass over the text column. The synthetic corpus contains no PII (counts
    * 0, text unchanged — which the oracle equally proves); TextSpec's planted
    * fixture drives the positive path. */
  /** The scrub projection over a (doc_id, text) frame — exposed for
    * TextSpec's planted-PII fixture (which also checks the scrubbed text
    * itself, not just its hash). */
  def piiScrub(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).as("n_email"),
        regexp_count(col("text"), lit(Ipv4Re)).as("n_ip"),
        md5(regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>")).as("scrubbed_md5"))
      .orderBy("doc_id")

  val textPiiScrub: Op = Op(
    "text_pii_scrub",
    (s, d) => piiScrub(Tables.documents(s, d)),
    Some("SELECT doc_id, " +
      s"CAST(len(regexp_extract_all(text, '$EmailRe')) AS INT) AS n_email, " +
      s"CAST(len(regexp_extract_all(text, '$Ipv4Re')) AS INT) AS n_ip, " +
      s"md5(regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'), " +
      s"'$Ipv4Re', '<IP>', 'g')) AS scrubbed_md5 " +
      "FROM documents ORDER BY doc_id"))

  /** Per-document top-5 salient terms — the keyword-extraction pass feeding
    * corpus search/tagging. TF-IDF made hash-exact: the usual `tf·ln(N/df)`
    * ranks by a float whose last ulp differs across libm implementations, so
    * this op declares the LOG-FREE variant `score = tf·N/df` as an
    * integer-SCALED BIGINT (`tf · 1e6 · N div df` — Spark `div` ≡ DuckDB `//`
    * on non-negatives). Ranking by tf·N/df preserves each term's idf
    * monotonicity; the stopword role of log-damping is taken by an explicit
    * df cap (terms in > 90 % of documents are suppressed — declared
    * semantics, oracle applies the same cap; TextSpec's planted fixture
    * drives the suppression positively, this corpus' 31-term vocabulary tops
    * out at ~80 % df so every term survives here). N enters RELATIONALLY (a
    * broadcast one-row aggregate, not a driver collect), so the whole op is
    * two map-side-combinable aggregations + one dictionary join + one
    * per-doc window: at 100 TB the term dictionary is the only shuffled side
    * and the scale constant moves to the schema, not the plan. Ties (equal
    * scaled scores) break on the term itself, so row_number is total. */
  def tfidfTopk(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val nDf = docs.agg(count(lit(1)).as("n"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .where(length(col("term")) > 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score_scaled").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(nDf))
      .where(col("df") * 10 <= col("n") * 9)
      .withColumn("score_scaled", expr("(tf * 1000000 * n) div df"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        col("score_scaled"))
      .orderBy("doc_id", "rank")
  }

  val textTfidfTopk: Op = Op(
    "text_tfidf_topk",
    (s, d) => tfidfTopk(Tables.documents(s, d).select("doc_id", "text")),
    Some("WITH n AS (SELECT COUNT(*) AS n FROM documents), " +
      "t AS (SELECT doc_id, term, COUNT(*) AS tf FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) " +
      "WHERE length(term) > 0 GROUP BY 1, 2), " +
      "d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY 1), " +
      "s AS (SELECT t.doc_id, t.term, t.tf, d.df, " +
      "(t.tf * 1000000 * (SELECT n FROM n)) // d.df AS score_scaled " +
      "FROM t JOIN d USING (term) WHERE d.df * 10 <= (SELECT n FROM n) * 9), " +
      "r AS (SELECT *, CAST(row_number() OVER " +
      "(PARTITION BY doc_id ORDER BY score_scaled DESC, term) AS INT) AS rank FROM s) " +
      "SELECT doc_id, rank, term, tf, df, score_scaled FROM r " +
      "WHERE rank <= 5 ORDER BY doc_id, rank"))

  /** Corpus bigram language-model statistics — the n-gram counting job
    * behind perplexity filtering and contamination scans: every adjacent
    * token pair with its count and the integer-scaled conditional
    * probability P(w2|w1) = n(w1,w2)·10⁶ div n(w1·) (denominator = the
    * token's occurrences as a bigram HEAD, so probabilities per head sum to
    * ~10⁶ exactly; no float anywhere). Both engines expand bigrams the same
    * way — index the token list at i+1/i+2 over a generated 0..len−2
    * series — rather than relying on either engine's window ordering. The
    * ≥ 3 support floor keeps the emitted table the useful head of the
    * distribution; counts below it are noise for any LM purpose.
    *
    * Scale notes (100 TB): rows out of the expansion ≈ corpus tokens; both
    * groupBys are map-side partial (bigram space ≪ token instances), and
    * the head-count join keys on w1 — the classic two-pass n-gram count
    * MapReduce, no driver state. A boilerplate-heavy corpus skews w1
    * ("the") — the salting of `agg_distinct_salted` drops in per head. */
  val textNgramLm: Op = Op(
    "text_ngram_lm",
    (s, d) => {
      val bigr = Tables.documents(s, d)
        .select(split(col("text"), " ").as("l"))
        .where(size(col("l")) >= 2)
        .select(explode(expr("sequence(0, size(l) - 2)")).as("i"), col("l"))
        .select(expr("element_at(l, i + 1)").as("w1"), expr("element_at(l, i + 2)").as("w2"))
      val heads = bigr.groupBy("w1").agg(count(lit(1)).as("head_n"))
      bigr.groupBy("w1", "w2").agg(count(lit(1)).as("n_bigram"))
        .join(heads, "w1")
        .where(col("n_bigram") >= 3)
        .select(col("w1"), col("w2"), col("n_bigram"),
          expr("n_bigram * 1000000 div head_n").as("p_cond_ppm"))
        .orderBy("w1", "w2")
    },
    Some("WITH t AS (SELECT string_split(text, ' ') AS l FROM documents), " +
      "b AS (SELECT t.l[g.i + 1] AS w1, t.l[g.i + 2] AS w2 FROM t, " +
      "LATERAL (SELECT unnest(generate_series(0, len(t.l) - 2)) AS i) g), " +
      "u AS (SELECT w1, COUNT(*) AS head_n FROM b GROUP BY 1), " +
      "c AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM b GROUP BY 1, 2) " +
      "SELECT c.w1, c.w2, c.n_bigram, c.n_bigram * 1000000 // u.head_n AS p_cond_ppm " +
      "FROM c JOIN u USING (w1) WHERE c.n_bigram >= 3 ORDER BY w1, w2"))

  /** LM-score quality filtering — the consumer of [[textNgramLm]]'s
    * statistics: every document is scored by the mean conditional
    * probability (ppm, integer-scaled) of its own bigrams under the corpus
    * bigram LM (same ≥ 3 support floor; a bigram below the floor scores 0 —
    * the OOV/low-support penalty), and flagged keep/drop against a fixed
    * ppm threshold. This is the perplexity-filter shape of corpus curation
    * with log-space float math replaced by exact integer ppm means, so the
    * score — and the filter verdict — is bit-identical on both engines.
    *
    * Scale notes (100 TB): pass 1 is the n-gram count job (map-side
    * combinable, bigram space ≪ token instances); the surviving LM head
    * (support ≥ 3) is small enough to broadcast, so pass 2 — scoring — is a
    * broadcast join onto the bigram stream plus one groupBy(doc). No pair
    * space, no corpus-width shuffle beyond the doc-id aggregate. */
  val textLmScoreFilter: Op = Op(
    "text_lm_score_filter",
    (s, d) => {
      val bigr = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("l"))
        .where(size(col("l")) >= 2)
        .select(col("doc_id"), explode(expr("sequence(0, size(l) - 2)")).as("i"), col("l"))
        .select(col("doc_id"),
          expr("element_at(l, i + 1)").as("w1"), expr("element_at(l, i + 2)").as("w2"))
      val heads = bigr.groupBy("w1").agg(count(lit(1)).as("head_n"))
      val lm = bigr.groupBy("w1", "w2").agg(count(lit(1)).as("n_bigram"))
        .where(col("n_bigram") >= 3)
        .join(heads, "w1")
        .select(col("w1"), col("w2"), expr("n_bigram * 1000000 div head_n").as("ppm"))
      bigr.join(broadcast(lm), Seq("w1", "w2"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bi"), sum(coalesce(col("ppm"), lit(0L))).as("tot"))
        .select(col("doc_id"), col("n_bi"), expr("tot div n_bi").as("score_ppm"),
          when(expr("tot div n_bi") >= 1000, 1).otherwise(0).as("keep_flag"))
        .orderBy("doc_id")
    },
    Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents), " +
      "b AS (SELECT doc_id, t.l[g.i + 1] AS w1, t.l[g.i + 2] AS w2 FROM t, " +
      "LATERAL (SELECT unnest(generate_series(0, len(t.l) - 2)) AS i) g WHERE len(t.l) >= 2), " +
      "u AS (SELECT w1, COUNT(*) AS head_n FROM b GROUP BY 1), " +
      "c AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM b GROUP BY 1, 2), " +
      "lm AS (SELECT c.w1, c.w2, c.n_bigram * 1000000 // u.head_n AS ppm " +
      "FROM c JOIN u USING (w1) WHERE c.n_bigram >= 3), " +
      "sc AS (SELECT b.doc_id, COUNT(*) AS n_bi, " +
      "CAST(SUM(COALESCE(lm.ppm, 0)) AS BIGINT) AS tot " +
      "FROM b LEFT JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2 GROUP BY 1) " +
      "SELECT doc_id, n_bi, tot // n_bi AS score_ppm, " +
      "CASE WHEN tot // n_bi >= 1000 THEN 1 ELSE 0 END AS keep_flag " +
      "FROM sc ORDER BY doc_id"))

  /** Overlapping-window chunker — the doc→retrieval-unit splitter every
    * RAG/embedding ingestion pipeline runs before vectorizing: fixed
    * [[ChunkSize]]-word windows advanced by [[ChunkStride]] (so consecutive
    * chunks share `size − stride` words of context), emitted with the
    * chunk's word count and an md5 content key (the id the embedding and
    * dedup stages downstream join on). Window starts are generated from an
    * explicit arithmetic series on BOTH engines — never engine-specific
    * string windowing — so chunk boundaries are bit-identical. The final
    * short tail chunk is kept (its words would otherwise fall out of
    * retrieval entirely); `n_words` marks it.
    *
    * Scale notes (100 TB): pure scan→explode→project, no shuffle at all
    * until the terminal presentation sort — rows out ≈ tokens/stride. The
    * overlap factor (size/stride) is the storage multiplier a real corpus
    * pays; it is a declared constant, not data-dependent, so output size
    * is exactly predictable from the token count. */
  private val ChunkSize = 24
  private val ChunkStride = 16

  val textChunkOverlap: Op = Op(
    "text_chunk_overlap",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(1), size(col("w")), lit(ChunkStride)),
            st => slice(col("w"), st, lit(ChunkSize)))).as(Seq("chunk_idx", "cw")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          size(col("cw")).cast("long").as("n_words"),
          md5(array_join(col("cw"), " ")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some("WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      s"c AS (SELECT doc_id, (g.st - 1) // $ChunkStride AS chunk_idx, " +
      s"w[g.st:g.st + ${ChunkSize - 1}] AS cw " +
      s"FROM t, LATERAL (SELECT unnest(generate_series(1, len(w), $ChunkStride)) AS st) g) " +
      "SELECT doc_id, chunk_idx, len(cw) AS n_words, " +
      "md5(array_to_string(cw, ' ')) AS chunk_hash FROM c ORDER BY doc_id, chunk_idx"))

  /** Gopher-style intra-document repetition signals — the quality family
    * that catches boilerplate/spam BEFORE any cross-document dedup runs:
    * distinct-word fraction, most-frequent-word fraction, and the fraction
    * of word-bigram occurrences that are repeats within the same document.
    * (The published rules also use duplicate line/paragraph fractions; this
    * corpus is single-line, so the word/n-gram members of the family are the
    * live ones.) Fractions are ONE IEEE division of exact integer counts per
    * document — no float accumulation anywhere.
    *
    * Scale notes (100 TB): per-document only — explode → two-phase partial
    * aggregate keyed by (doc, token), then a (doc)-keyed rollup; shuffle
    * rows ∝ distinct tokens per doc, never cross-document. The bigram side
    * reuses the same shape. Nothing here is corpus-global, so the op
    * pipelines with the scan at any width. */
  val textRepetitionStats: Op = Op(
    "text_repetition_stats",
    (s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), split(col("text"), " ").as("ws"))
      val wordAgg = base.select(col("doc_id"), explode(col("ws")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum("c").as("n_words"), count(lit(1)).as("n_distinct"), max("c").as("top_c"))
      val bgAgg = base.select(col("doc_id"),
          explode(expr("zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1), " +
            "(x, y) -> concat(x, ' ', y))")).as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_bg"), sum("c").as("n_bg"))
      wordAgg.join(bgAgg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          (col("n_distinct").cast("double") / col("n_words")).as("distinct_frac"),
          (col("top_c").cast("double") / col("n_words")).as("top_word_frac"),
          when(coalesce(col("n_bg"), lit(0L)) > 0,
            col("dup_bg").cast("double") / col("n_bg")).otherwise(lit(0.0)).as("dup_bigram_frac"))
        .orderBy("doc_id")
    },
    Some("WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), " +
      "wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2), " +
      "wa AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, " +
      "CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_c " +
      "FROM wc GROUP BY 1), " +
      "l AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
      "bg AS (SELECT doc_id, ws[g.i] || ' ' || ws[g.i + 1] AS b " +
      "FROM l, LATERAL (SELECT unnest(range(1, len(ws))) AS i) g), " +
      "bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2), " +
      "ba AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_bg, " +
      "CAST(SUM(c) AS BIGINT) AS n_bg FROM bc GROUP BY 1) " +
      "SELECT wa.doc_id, n_words, n_distinct, " +
      "CAST(n_distinct AS DOUBLE) / n_words AS distinct_frac, " +
      "CAST(top_c AS DOUBLE) / n_words AS top_word_frac, " +
      "CASE WHEN COALESCE(n_bg, 0) > 0 THEN CAST(dup_bg AS DOUBLE) / n_bg ELSE 0.0 END " +
      "AS dup_bigram_frac " +
      "FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id ORDER BY wa.doc_id"))

  /** Word-statistics quality rules (the Gopher/RefinedWeb shape): word-count
    * bounds, mean word length band, and a stopword-presence floor, emitted
    * as keep + reasons. Mean word length needs NO tokenization pass — on a
    * single-space corpus it is (length(text) − (n_words − 1)) / n_words,
    * all from the scan row itself; only the stopword probe touches the token
    * array, via a lambda filter (codegen'd HOF, no explode, no shuffle).
    *
    * Scale notes (100 TB): entirely scan-local — the whole op is one
    * projection inside whole-stage codegen; the terminal sort is
    * presentation-only. This is the filter you run FIRST at scale, before
    * anything that shuffles. */
  val textGopherQuality: Op = Op(
    "text_gopher_quality",
    (s, d) => {
      val MinWords = 24
      val MaxWords = 90
      val ws = split(col("text"), " ")
      val nWords = size(ws).cast("long")
      val wordChars = length(col("text")).cast("long") - (nWords - 1)
      val meanLen = wordChars.cast("double") / nWords
      val stopHits = size(filter(ws, w => w === "the" || w === "a")).cast("long")
      val badCount = nWords < MinWords || nWords > MaxWords
      val badMean = meanLen < 3.0 || meanLen > 10.0
      val badStop = stopHits < 1
      Tables.documents(s, d)
        .select(col("doc_id"), nWords.as("n_words"), meanLen.as("mean_word_len"),
          stopHits.as("stop_hits"), (!badCount && !badMean && !badStop).as("keep"),
          concat_ws(",", when(badCount, "count"), when(badMean, "meanlen"),
            when(badStop, "stop")).as("reasons"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, n_words, mean_word_len, stop_hits, " +
      "NOT (bad_count OR bad_mean OR bad_stop) AS keep, " +
      "concat_ws(',', CASE WHEN bad_count THEN 'count' END, " +
      "CASE WHEN bad_mean THEN 'meanlen' END, CASE WHEN bad_stop THEN 'stop' END) AS reasons " +
      "FROM (SELECT doc_id, n_words, mean_word_len, stop_hits, " +
      "(n_words < 24 OR n_words > 90) AS bad_count, " +
      "(mean_word_len < 3.0 OR mean_word_len > 10.0) AS bad_mean, " +
      "(stop_hits < 1) AS bad_stop FROM " +
      "(SELECT doc_id, n_words, " +
      "CAST(length(text) - (n_words - 1) AS DOUBLE) / n_words AS mean_word_len, " +
      "CAST(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS BIGINT) " +
      "AS stop_hits FROM " +
      "(SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words " +
      "FROM documents))) ORDER BY doc_id"))

  /** Keyword-in-context (KWIC) concordance — the corpus-inspection view a
    * curation analyst actually reads: every occurrence of a query term with
    * its ±2-word window, one row per hit. Word-indexed, not regex-windowed:
    * the token stream carries 1-based positions and the context is a SLICE
    * of the original split array — exact, overlap-safe (adjacent hits each
    * get their own full window), and free of cross-engine regex-semantics
    * risk. The query term is a parameter; 'window' here because the
    * synthetic vocabulary makes it frequent.
    *
    * Scale notes (100 TB): scan-local explode with rows-out ∝ hits; the
    * slice re-reads the already-materialized words array (cached per row,
    * not recomputed per hit by the codegen'd plan). An inverted-index
    * standing artifact is the repeated-query optimization — the
    * [[graft.ops.LlmOps]] ANN-probe pattern applied to terms. */
  val textKeywordContext: Op = Op(
    "text_keyword_context",
    (s, d) => {
      val kw = "window"
      Tables.documents(s, d)
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"), col("words"),
          posexplode(col("words")).as(Seq("i0", "tok")))
        .where(col("tok") === kw)
        .select(col("doc_id"), (col("i0") + 1).as("pos"),
          array_join(slice(col("words"), greatest(lit(1), col("i0") - 1),
            col("i0") + 3 - greatest(lit(1), col("i0") - 1) + 1), " ").as("context"))
        .orderBy("doc_id", "pos")
    },
    Some("WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents), " +
      "t AS (SELECT doc_id, words, g.i AS pos, words[g.i] AS tok FROM w, " +
      "LATERAL (SELECT unnest(generate_series(1, len(words))) AS i) g) " +
      "SELECT doc_id, CAST(pos AS INT) AS pos, " +
      "array_to_string(words[GREATEST(1, pos - 2):pos + 2], ' ') AS context " +
      "FROM t WHERE tok = 'window' ORDER BY doc_id, pos"))

  /** Vocabulary coverage / OOV profiling — the tokenizer-prep question a
    * training pipeline answers before freezing a vocab: with the vocabulary
    * = every token whose DOCUMENT frequency ≥ 5 (df, not term count — one
    * doc repeating a rare token shouldn't admit it), what fraction of each
    * document's tokens fall outside it? Emitted as exact integer counts and
    * ppm (integer division); high-OOV docs are the ones a fixed vocab would
    * shred into bytes. The df threshold (not a top-K cut) keeps the
    * dictionary deterministic without a tie-break protocol.
    *
    * Scale notes (100 TB): token df is one two-phase aggregate keyed on the
    * token (state = |vocab candidates|); the accepted dictionary broadcasts
    * (vocabularies are ~10⁵-10⁶ rows no matter the corpus size); coverage is
    * then a broadcast left-join over the exploded tokens + one per-doc
    * count — the dedup_decontaminate shape with a corpus-derived dictionary. */
  val textVocabCoverage: Op = Op(
    "text_vocab_coverage",
    (s, d) => {
      val toks = Housekeeping.cacheBounded("vocab_toks",
        Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok")))
      val vocab = toks.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
        .where(col("df") >= 5).select("tok")
      toks.join(broadcast(vocab.withColumn("in_vocab", lit(1))), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          (count(lit(1)) - count(col("in_vocab"))).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          expr("(n_oov * 1000000) div n_tokens").as("oov_ppm"))
        .orderBy("doc_id")
    },
    Some("WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok " +
      "FROM documents), " +
      "v AS (SELECT tok FROM (SELECT tok, COUNT(DISTINCT doc_id) AS df " +
      "FROM toks GROUP BY 1) WHERE df >= 5), " +
      "j AS (SELECT t.doc_id, CASE WHEN v.tok IS NOT NULL THEN 1 END AS in_vocab " +
      "FROM toks t LEFT JOIN v ON v.tok = t.tok) " +
      "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
      "CAST(COUNT(*) - COUNT(in_vocab) AS BIGINT) AS n_oov, " +
      "((COUNT(*) - COUNT(in_vocab)) * 1000000) // COUNT(*) AS oov_ppm " +
      "FROM j GROUP BY 1 ORDER BY doc_id"))

  val all: Seq[Op] = Seq(textLangId, textTokenStats, textFingerprint, textBpePairs,
    textBpeApply, textHeavyHitters, textPiiScrub, textTfidfTopk, textNgramLm,
    textChunkOverlap, textLmScoreFilter, textRepetitionStats, textGopherQuality,
    textKeywordContext, textVocabCoverage)
}
