package graft.ops

import graft.tables.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Dets._

/** Training-data pipeline staples beyond dedup/similarity: deterministic
  * sampling, leakage-safe dataset splitting, and sequence packing. All three
  * are single-scan, shuffle-light, and CONTENT-KEYED — the sampling/split
  * decision for a document is a pure function of its text, so re-running the
  * pipeline on a grown corpus never flips past decisions (the property that
  * makes incremental 100 TB rebuilds possible), and byte-identical docs land
  * together.
  *
  * Determinism across engines: decisions compare fixed-length lowercase-hex
  * md5 substrings LEXICOGRAPHICALLY (both Spark and DuckDB emit lowercase
  * hex), so no float math, no locale, no hash-function parity issues.
  */
object PipelineOps {

  private val Cap = 2048L // pack_sequences bin capacity, tokens

  /** Stratified downsampling by language: the dominant stratum ('en', ~44%
    * of the synthetic corpus) keeps ~10%, every other language keeps ~20% —
    * the classic rebalance-before-training move. Keep iff the first 8 hex
    * chars of md5(text) fall below the stratum's threshold: '19999999' ≈
    * 0.1 × 16^8, '33333333' ≈ 0.2 × 16^8. One scan, no shuffle before the
    * final order. */
  val sampleStratified: Op = Op(
    "sample_stratified",
    (s, d) => {
      val u = substring(md5(col("text")), 1, 8)
      val thr = when(col("lang") === "en", lit("19999999")).otherwise(lit("33333333"))
      Tables.documents(s, d)
        .where(u < thr)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, lang FROM documents " +
      "WHERE substr(md5(text), 1, 8) < (CASE WHEN lang = 'en' THEN '19999999' ELSE '33333333' END) " +
      "ORDER BY doc_id"))

  /** 80/10/10 train/val/test assignment keyed on CONTENT hash (hex chars
    * 9-12 of md5(text) — a different substring than the sampler, so the two
    * decisions are independent). Content keying means byte-identical
    * documents always share a split: exact duplicates can never leak from
    * train into eval. 'cccc' ≈ 0.8 × 16^4, 'e666' ≈ 0.9 × 16^4. */
  val splitTrainValTest: Op = Op(
    "split_train_val_test",
    (s, d) => {
      val b = substring(md5(col("text")), 9, 4)
      Tables.documents(s, d)
        .select(col("doc_id"),
          when(b < "cccc", "train").when(b < "e666", "val").otherwise("test").as("split"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, CASE WHEN substr(md5(text), 9, 4) < 'cccc' THEN 'train' " +
      "WHEN substr(md5(text), 9, 4) < 'e666' THEN 'val' ELSE 'test' END AS split " +
      "FROM documents ORDER BY doc_id"))

  /** Greedy in-order sequence packing: per language, documents are laid out
    * in doc_id order and assigned to fixed-capacity token bins by their
    * START offset (bin = floor(prev_cumsum / cap)) — the streaming-friendly
    * packing a tokenizer shard job uses (a doc spanning a boundary overflows
    * its bin rather than being split; capacity is therefore a target, not a
    * hard limit — PipelineSpec bounds the overflow by one document). Integer
    * token counts + one window per language stratum: exact on both engines,
    * one shuffle on lang at any width (salt by doc_id range per lang if one
    * language dominates a 100 TB corpus). */
  val packSequences: Op = Op(
    "pack_sequences",
    (s, d) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("end_off", sum(col("n_tokens")).over(w))
        .select(col("lang"), col("doc_id"), col("n_tokens"),
          floor((col("end_off") - col("n_tokens")) / Cap).as("bin"))
        .orderBy("lang", "doc_id")
    },
    Some("SELECT lang, doc_id, n_tokens, CAST(floor((end_off - n_tokens) / " + Cap + ") AS BIGINT) AS bin " +
      "FROM (SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
      "SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER " +
      "(PARTITION BY lang ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off " +
      "FROM documents) ORDER BY lang, doc_id"))

  /** QUALITY-RANKED SELECTION UNDER A TOKEN BUDGET — the data-selection move
    * behind every curated pretraining mix: each source stratum gets a token
    * budget (a fifth of its own token mass here; in production the mixture
    * weights), documents are ranked by a quality score within the stratum,
    * and the best are taken until the budget fills. Quality here is the
    * type-token ratio in integer ppt (distinct words ×1000 ÷ words — a
    * cheap, deterministic repetition penalty; any integer score slots in).
    * Selection is by START offset (running token sum BEFORE the doc <
    * budget — [[packSequences]]' convention, so the last doc may overflow
    * by at most itself, a target not a hard cap). Shapes at 100 TB: one
    * shuffle on source for the window, per-stratum budgets from one tiny
    * aggregate broadcast back — never a global sort; a dominant stratum
    * salts by doc_id range exactly like pack_sequences. All-integer rank
    * and cumsum arithmetic — exact on both engines. */
  val pipelineBudgetSelect: Op = Op(
    "pipeline_budget_select",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"))
        .withColumn("ttr_ppt", expr("(n_distinct * 1000) DIV n_tokens"))
      val budgets = docs.groupBy("source")
        .agg(expr("CAST(sum(n_tokens) DIV 5 AS BIGINT)").as("budget"))
      val w = Window.partitionBy("source").orderBy(col("ttr_ppt").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs
        .withColumn("end_off", sum(col("n_tokens")).over(w))
        .join(broadcast(budgets), "source")
        .where(col("end_off") - col("n_tokens") < col("budget"))
        .select(col("doc_id"), col("source"), col("n_tokens"), col("ttr_ppt"))
        .orderBy("doc_id")
    },
    Some("WITH d AS (SELECT doc_id, source, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, " +
      "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct " +
      "FROM documents), " +
      "s AS (SELECT doc_id, source, n_tokens, (n_distinct * 1000) // n_tokens AS ttr_ppt FROM d), " +
      "b AS (SELECT source, CAST(SUM(n_tokens) // 5 AS BIGINT) AS budget FROM d GROUP BY 1), " +
      "c AS (SELECT doc_id, source, n_tokens, ttr_ppt, " +
      "SUM(n_tokens) OVER (PARTITION BY source ORDER BY ttr_ppt DESC, doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off FROM s) " +
      "SELECT c.doc_id, c.source, c.n_tokens, c.ttr_ppt FROM c JOIN b ON b.source = c.source " +
      "WHERE c.end_off - c.n_tokens < b.budget ORDER BY c.doc_id"))

  private val Shards = 8 // pipeline_shard_balance output shard count

  /** TOKEN-BALANCED shard assignment — the writer-side decision when a
    * tokenized corpus is laid out into N training shards: naive hash/round-
    * robin balances DOC counts, but a skewed size distribution then leaves
    * some shards with far more tokens (the straggler shard that gates every
    * epoch). Classic fix: rank documents by token count (descending) and
    * deal them out in a SNAKE — rank r goes to shard fold((r-1) mod 2N),
    * where the fold reflects every second pass (0..N-1, N-1..0, …), so each
    * consecutive 2N-block contributes one near-largest and one near-smallest
    * doc to every shard; the per-shard token totals differ by at most one
    * block's spread (ShardBalanceSpec pins the bound against the hash
    * assignment's imbalance on the same corpus). Ranking is PER LANGUAGE
    * STRATUM — the same shuffle shape as [[packSequences]] (one window per
    * lang, never a single global-order partition): each stratum's snake is
    * balanced, and a sum of balanced parts is balanced, so the global
    * totals hold without any global sort. Integer ranks and integer token
    * counts only — exact on both engines. */
  val pipelineShardBalance: Op = Op(
    "pipeline_shard_balance",
    (s, d) => {
      val w = Window.partitionBy("lang").orderBy(col("n_tokens").desc, col("doc_id"))
      val g = (row_number().over(w) - 1) % (2 * Shards)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("shard",
          when(g < Shards, g).otherwise(lit(2 * Shards - 1) - g).cast("long"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, lang, n_tokens, CAST(CASE WHEN g < " + Shards + " THEN g ELSE " +
      (2 * Shards - 1) + " - g END AS BIGINT) AS shard " +
      "FROM (SELECT doc_id, lang, n_tokens, " +
      "(row_number() OVER (PARTITION BY lang ORDER BY n_tokens DESC, doc_id) - 1) % " +
      (2 * Shards) + " AS g " +
      "FROM (SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens " +
      "FROM documents)) ORDER BY doc_id"))

  /** The int8 quantization prefix shared by the embedding keys: `v` is the
    * embedding cast exactly to doubles and `scale` = 127 / max|v| (0.0 for
    * an all-zero vector); each key then quantizes a coordinate x as
    * floor(x·scale + 0.5). max|v| is the larger absolute extreme, which
    * codegens where a `transform` lambda would fall back to interpretation;
    * both spellings give the same value. */
  private def int8Scaled(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("maxabs", greatest(abs(array_max(col("v"))), abs(array_min(col("v")))))
      .withColumn("scale",
        when(col("maxabs") === 0, lit(0.0)).otherwise(lit(127.0) / col("maxabs")))

  /** Symmetric per-vector int8 quantization — the embedding-prep step before
    * a vector-index load or a memory-tight training run: scale each vector by
    * 127/max|x| and round to signed bytes. Scan-local and codegen-friendly
    * (zero shuffle before the output order). Determinism across engines: the
    * float inputs cast exactly to double, 127/max and x·scale are single IEEE
    * ops, and rounding is the explicit floor(x·scale + 0.5) — no engine
    * round() (whose half-way rules differ). Quantized bytes are emitted as a
    * '|'-joined string (the driver's hasher rejects array columns). */
  val embedQuantizeInt8: Op = Op(
    "embed_quantize_int8",
    (s, d) => {
      int8Scaled(Tables.embeddings(s, d))
        .select(col("vec_id"), col("scale"),
          concat_ws("|", transform(col("v"),
            x => floor(x * col("scale") + 0.5).cast("int").cast("string"))).as("q"))
        .orderBy("vec_id")
    },
    Some("SELECT vec_id, scale, array_to_string(list_transform(embedding, " +
      "x -> CAST(CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INT) AS VARCHAR)), '|') AS q " +
      "FROM (SELECT vec_id, embedding, CASE WHEN maxabs = 0 THEN 0.0 ELSE 127.0 / maxabs END AS scale " +
      "FROM (SELECT vec_id, embedding, list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs " +
      "FROM embeddings)) ORDER BY vec_id"))

  /** Johnson–Lindenstrauss random projection 64 → 16 dims with a
    * DETERMINISTIC ±1 sign matrix — the cheap dimensionality reducer in
    * front of LSH/clustering when the full embedding is too wide to
    * bucket on. The sign matrix is content-addressed, not sampled:
    * s(k, i) = +1 iff the first hex digit of md5("k_i") < '8' (md5 is
    * engine-identical, the digit test is an unbiased coin), so the same
    * projection reproduces anywhere with no stored matrix. Coordinates go
    * through [[embedQuantizeInt8]]'s exact int8 formula first, so every
    * projected component is a BIGINT sum of int8·±1 terms — associative,
    * order-free, hash-exact, no float accumulation.
    *
    * Scale notes (100 TB): the sign matrix is K×d = 1 024 rows — broadcast;
    * coordinates explode d-per-vector and aggregate map-side onto
    * (vector, k) — shuffle rows = vectors × K, never d-wide; the same shape
    * as the PQ codebook apply. */
  val embedRandomProjection: Op = Op(
    "embed_random_projection",
    (s, d) => {
      val OutDims = 16
      val q = int8Scaled(Tables.embeddings(s, d))
        .select(col("vec_id"),
          posexplode(transform(col("v"),
            x => floor(x * col("scale") + 0.5).cast("long"))).as(Seq("i", "qi")))
      val signs = s.range(OutDims).select(col("id").cast("int").as("k"))
        .crossJoin(s.range(64).select(col("id").cast("int").as("i")))
        .select(col("k"), col("i"),
          when(substring(md5(concat_ws("_", col("k"), col("i"))), 1, 1) < "8", 1L)
            .otherwise(-1L).as("sgn"))
      q.join(broadcast(signs), "i")
        .groupBy("vec_id", "k").agg(sum(col("qi") * col("sgn")).as("proj"))
        .orderBy("vec_id", "k")
    },
    Some("WITH q AS (SELECT vec_id, g.i, " +
      "CAST(floor(CAST(embedding[g.i + 1] AS DOUBLE) * scale + 0.5) AS BIGINT) AS qi " +
      "FROM (SELECT vec_id, embedding, CASE WHEN maxabs = 0 THEN 0.0 " +
      "ELSE 127.0 / maxabs END AS scale FROM (SELECT vec_id, embedding, " +
      "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs " +
      "FROM embeddings)), LATERAL (SELECT unnest(range(0, 64)) AS i) g), " +
      "sg AS (SELECT k.k, i.i, CASE WHEN substr(md5(CAST(k.k AS VARCHAR) || '_' || " +
      "CAST(i.i AS VARCHAR)), 1, 1) < '8' THEN 1 ELSE -1 END AS sgn " +
      "FROM (SELECT unnest(range(0, 16)) AS k) k, (SELECT unnest(range(0, 64)) AS i) i) " +
      "SELECT vec_id, CAST(sg.k AS INT) AS k, CAST(SUM(qi * sgn) AS BIGINT) AS proj " +
      "FROM q JOIN sg ON q.i = sg.i GROUP BY 1, 2 ORDER BY vec_id, k"))

  /** Exact Gram matrix over the int8-quantized embeddings — the dependence
    * structure of the embedding space (covariance/PCA input, the artifact a
    * whitening or dimensionality-reduction pass consumes), computed with NO
    * float accumulation: quantize each coordinate with [[embedQuantizeInt8]]'s
    * exact formula (one IEEE multiply + floor, proven engine-identical by
    * that op's oracle), then every Gram cell is a BIGINT sum of int8×int8
    * products — associative, order-free, hash-exact. Upper triangle only
    * (i ≤ j; the matrix is symmetric).
    *
    * Scale shape: coordinates explode to (vec, i, q) and self-join on
    * vec_id — co-partitioned, fan-out d²/2 per vector, then a
    * map-side-combinable aggregate onto d(d+1)/2 = 2 080 groups. At 100 TB
    * the same math packs into a TypedImperativeAggregate accumulating a
    * d×d long array per partition (the `text_heavy_hitters` pattern), which
    * drops the join fan-out; the relational form here IS the semantics that
    * aggregate must reproduce. */
  val embedGramExact: Op = Op(
    "embed_gram_exact",
    (s, d) => {
      val q = int8Scaled(Tables.embeddings(s, d))
        .select(col("vec_id"),
          posexplode(expr("transform(v, x -> cast(floor(x * scale + 0.5) as bigint))")))
        .select(col("vec_id"), (col("pos") + 1).as("i"), col("col").as("q"))
      q.as("a").join(q.as("b"),
          col("a.vec_id") === col("b.vec_id") && col("a.i") <= col("b.i"))
        .groupBy(col("a.i").as("i"), col("b.i").as("j"))
        .agg(sum(col("a.q") * col("b.q")).as("dot"))
        .orderBy("i", "j")
    },
    Some("WITH e AS (SELECT vec_id, embedding, " +
      "CASE WHEN maxabs = 0 THEN 0.0 ELSE 127.0 / maxabs END AS scale " +
      "FROM (SELECT vec_id, embedding, " +
      "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs " +
      "FROM embeddings)), " +
      "q AS (SELECT vec_id, g.i AS i, " +
      "CAST(floor(CAST(embedding[g.i] AS DOUBLE) * scale + 0.5) AS BIGINT) AS q " +
      "FROM e, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g) " +
      "SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS dot " +
      "FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i " +
      "GROUP BY 1, 2 ORDER BY 1, 2"))

  /** The corpus-build job end to end — the composition every training
    * pipeline actually runs, chained from stages this engine ships
    * individually: quality gate (text_quality_filter's rules) → exact-dedup
    * keep (min doc_id per content hash — an identical doc kept in the eval
    * source correctly shadows its training copy) → eval-set exclusion +
    * decontamination (dedup_decontaminate's ≥ 0.5 shingle-overlap rule
    * against the src0 dictionary) → content-keyed split assignment
    * (split_train_val_test's hex ranges) → per-split corpus stats.
    *
    * Scale shape: each stage keeps the shape it has standalone — the quality
    * gate is scan-local; the dedup keep is one content-hash groupBy; the
    * benchmark dictionary broadcasts; the split is a pure function of the
    * content hash. The only additions over the standalone ops are two
    * equi-joins on doc_id. Oracle: the same five stages as one DuckDB CTE
    * chain. */
  /** Stage-1 gate of the corpus build (text_quality_filter's predicate) —
    * ONE definition shared by the batch op and `stream_corpus_build`'s
    * per-batch fold, so the two surfaces cannot drift. */
  private[graft] def corpusGate(docs: DataFrame): DataFrame = {
    val nTok = size(split(col("text"), " "))
    docs.where(col("n_chars") >= 64 && col("n_chars") <= 4096 &&
        nTok >= 10 && col("text").rlike("^[a-z ]+$"))
      .select("doc_id", "source", "text", "n_chars")
  }

  /** Stage-4 content-keyed split assignment (split_train_val_test's hex
    * ranges) — shared with `stream_corpus_build` like [[corpusGate]]. */
  private[graft] def corpusSplitCol: org.apache.spark.sql.Column = {
    val b = substring(md5(col("text")), 9, 4)
    when(b < "cccc", "train").when(b < "e666", "val").otherwise("test")
  }

  val pipelineCorpusBuild: Op = Op(
    "pipeline_corpus_build",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // stage 1: quality gate (same predicate as text_quality_filter)
      val q = Housekeeping.cacheBounded("pipeline_q", corpusGate(docs))
      // stage 2: exact-dedup keep across ALL quality survivors
      val keep = q.groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      // stage 3: training pool = survivors outside the eval source,
      // decontaminated against the RAW src0 shingle dictionary
      val pool = q.join(keep, "doc_id").where(col("source") =!= "src0")
      val poolSh = LlmOps.shingleOccurrences("pipeline_sh", pool.select("doc_id", "text"))
      val bench = LlmOps.shingleOccurrences("pipeline_bench_sh",
          docs.where(col("source") === "src0").select("doc_id", "text"))
        .select("s").distinct()
        .withColumn("hit", lit(1))
      // ONE exploded pass: the broadcast LEFT join marks hits while the same
      // groupBy counts shingles (r13 — the shape the incremental sibling
      // uses; the former sz+hits pair paid the explode shuffle twice)
      val stats = poolSh.join(broadcast(bench), Seq("s"), "left")
        .groupBy("doc_id").agg(count(lit(1)).as("n"), count(col("hit")).as("nh"))
      val clean = pool.join(stats, "doc_id")
        .where(col("nh").cast("double") / col("n") < 0.5)
      // stages 4+5: content-keyed split, per-split stats
      val b = substring(md5(col("text")), 9, 4)
      clean
        .withColumn("split",
          when(b < "cccc", "train").when(b < "e666", "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          dsum(col("n_chars")).as("sum_chars"))
        .orderBy("split")
    },
    Some("WITH q AS (SELECT doc_id, source, text, n_chars FROM documents " +
      "WHERE n_chars >= 64 AND n_chars <= 4096 AND len(string_split(text, ' ')) >= 10 " +
      "AND regexp_matches(text, '^[a-z ]+$')), " +
      "keep AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)), " +
      "pool AS (SELECT q.* FROM q JOIN keep USING (doc_id) WHERE source <> 'src0'), " +
      "pw AS (SELECT doc_id, string_split(text, ' ') AS w FROM pool), " +
      "g AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s FROM pw WHERE len(w) >= 3), " +
      "bw AS (SELECT string_split(text, ' ') AS w FROM documents WHERE source = 'src0'), " +
      "bench AS (SELECT DISTINCT unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s FROM bw WHERE len(w) >= 3), " +
      "sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1), " +
      "hit AS (SELECT doc_id, COUNT(*) AS nh FROM g JOIN bench USING (s) GROUP BY 1), " +
      "clean AS (SELECT pool.doc_id, pool.text, pool.n_chars FROM pool " +
      "JOIN sz ON sz.doc_id = pool.doc_id LEFT JOIN hit ON hit.doc_id = pool.doc_id " +
      "WHERE CAST(COALESCE(nh, 0) AS DOUBLE) / sz.n < 0.5) " +
      "SELECT CASE WHEN substr(md5(text), 9, 4) < 'cccc' THEN 'train' " +
      "WHEN substr(md5(text), 9, 4) < 'e666' THEN 'val' ELSE 'test' END AS split, " +
      "COUNT(*) AS n_docs, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens, " +
      oSum("n_chars") + " AS sum_chars " +
      "FROM clean GROUP BY 1 ORDER BY split"))

  /** Deterministic fixed-k-per-group sampling — the reservoir-sample
    * equivalent for a distributed engine: exactly k = 10 documents per
    * language, selected by rank over a content hash (md5(text), doc_id as
    * the unique tiebreak), so the "random" order is a pure function of the
    * data. Where [[sampleStratified]] draws a RATE per stratum, this draws
    * an exact COUNT per stratum — the eval-set / spot-check shape ("give me
    * 10 docs per language") that a true random reservoir can't reproduce
    * across reruns. sample_rank is emitted so the consumer can take any
    * prefix (rank ≤ 3) without resampling.
    *
    * Scale notes (100 TB): one shuffle on the group key; the per-group sort
    * is bounded by a rank-k window (Spark's WindowGroupLimit pushes the
    * k-limit into the sort at execution — each task keeps a k-row heap, not
    * the group). Output is |groups| × k rows regardless of corpus size. */
  val sampleReservoirGroup: Op = Op(
    "sample_reservoir_group",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy(md5(col("text")), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("sample_rank", row_number().over(w))
        .where(col("sample_rank") <= 10)
        .select(col("doc_id"), col("lang"), col("sample_rank"))
        .orderBy("lang", "sample_rank")
    },
    Some("SELECT doc_id, lang, sample_rank FROM (" +
      "SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS sample_rank " +
      "FROM documents) WHERE sample_rank <= 10 ORDER BY lang, sample_rank"))

  /** Weight-proportional Bernoulli sampling with NO randomness — the
    * third sampling shape beside the stratified and reservoir passes: each
    * doc is kept with probability ∝ its n_chars (capped at 1), decided by
    * comparing a 24-bit prefix of md5(text) against the weight mapped onto
    * the same 24-bit space. Deterministic (same corpus → same sample, the
    * property a reproducible training run needs), exact on both engines
    * because the compare is between two zero-padded lowercase hex strings —
    * the [[splitTrainValTest]] idiom, no hex→int conversion anywhere — and
    * full-weight docs are kept by an explicit predicate rather than a
    * threshold at the top of the hash range. Scan-local: zero shuffles at
    * any corpus size, each executor decides its rows alone. */
  val sampleWeightedHash: Op = Op(
    "sample_weighted_hash",
    (s, d) => {
      val thr = expr(
        "lpad(lower(hex((least(1000000, n_chars * 2000) * 16777216) div 1000000)), 6, '0')")
      Tables.documents(s, d)
        .where(col("n_chars") * 2000 >= 1000000 ||
          substring(md5(col("text")), 1, 6) < thr)
        .select(col("doc_id"),
          least(lit(1000000L), col("n_chars") * 2000).as("weight_ppm"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, LEAST(1000000, n_chars * 2000) AS weight_ppm FROM documents " +
      "WHERE n_chars * 2000 >= 1000000 OR substr(md5(text), 1, 6) < " +
      "lpad(printf('%x', (LEAST(1000000, n_chars * 2000) * 16777216) // 1000000), 6, '0') " +
      "ORDER BY doc_id"))

  /** The INCREMENTAL corpus update — how a 100 TB pipeline actually runs
    * [[pipelineCorpusBuild]] on day N+1: the standing half of the corpus
    * (doc_id ≤ mid) is the already-built state; the delta half arrives and
    * is pushed through the same stages AGAINST THE STANDING ARTIFACTS
    * instead of a rebuild — quality gate on delta only; exact-dedup keep =
    * min-per-hash WITHIN the delta, minus any hash already present in the
    * standing quality-survivor index (prefix-stability of min-doc_id keep:
    * a standing copy always beats a later delta copy, so the index lookup
    * IS the full-rebuild outcome); decontamination of delta docs against
    * the full eval dictionary; and — the subtle half — REVALIDATION of
    * standing docs against only the shingles the delta ADDED to the eval
    * source (benchNew = delta src0 shingles ∉ standing dictionary): a
    * standing doc's full-rebuild hit count decomposes exactly as
    * hits(standing dict) + hits(benchNew), so the re-check costs standing
    * shingles ⋈ a small broadcast of NEW eval shingles, never a rescan of
    * the eval set. Final per-split stats aggregate the union.
    *
    * The oracle is the FULL-REBUILD SQL over all documents — identical to
    * `pipeline_corpus_build`'s — so the driver's hash compare IS the proof
    * that the incremental algebra (index lookup + delta-only stages +
    * additive contamination) reproduces the rebuild bit-for-bit.
    *
    * Scale notes (100 TB): with the standing artifacts persisted (hash
    * index, eval dictionary, per-doc (shingle count, standing hits), split
    * stats — all shipped shapes: `dedup_incremental_exact`'s index,
    * `agg_incremental_rollup`'s re-aggregation), every delta-touching stage
    * costs ∝ delta, and the standing revalidation costs ∝ standing-shingles
    * ⋈ NEW eval shingles (broadcast, usually empty). This op recomputes the
    * standing artifacts in-line to stay self-contained (the
    * `dedup_incremental_*` convention), but the DELTA path never touches
    * them except by equi-join/broadcast. */
  val pipelineIncrementalUpdate: Op = Op(
    "pipeline_incremental_update",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val mid = docs.agg(expr("max(doc_id) div 2")).first().getLong(0)
      val nTok = size(split(col("text"), " "))
      def gate(df: DataFrame): DataFrame =
        df.where(col("n_chars") >= 64 && col("n_chars") <= 4096 &&
            nTok >= 10 && col("text").rlike("^[a-z ]+$"))
          .select("doc_id", "source", "text", "n_chars")
      // ONE gated scan + ONE cache for both generations (r13: the former
      // per-generation caches cost a second docs scan and a second
      // materialization pass for rows this single flag column separates)
      val q = Housekeeping.cacheBounded("inc_q",
        gate(docs).withColumn("is_std", col("doc_id") <= mid))
      val qStd = q.where(col("is_std"))
      val qDel = q.where(!col("is_std"))
      // standing state: hash index over ALL standing quality survivors
      val stdIndex = qStd.select(md5(col("text")).as("h")).distinct()
      // keep decisions: standing keep = min-per-hash within standing;
      // delta keep = min-per-hash within delta, hash not in standing index
      val keepStd = qStd.groupBy(md5(col("text")).as("h")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val keepDel = qDel.withColumn("h", md5(col("text")))
        .join(stdIndex, Seq("h"), "left_anti")
        .groupBy("h").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val poolStd = qStd.join(keepStd, "doc_id").where(col("source") =!= "src0")
      val poolDel = qDel.join(keepDel, "doc_id").where(col("source") =!= "src0")
      // eval dictionaries: standing, plus ONLY what the delta added. ONE
      // cached src0 shingling feeds both (the is_std filters push below the
      // explode onto the cache)
      val srcSh = LlmOps.shingleOccurrences("inc_bench_arr",
        docs.where(col("source") === "src0").select("doc_id", "text")
          .withColumn("is_std", col("doc_id") <= mid))
      val benchStd = Housekeeping.cacheBounded("inc_bench_std",
        srcSh.where(col("is_std")).select("s").distinct())
      val benchNew = srcSh.where(!col("is_std")).select("s").distinct()
        .join(benchStd, Seq("s"), "left_anti")
      // The additive-hits identity (hits(standing dict) + hits(benchNew) =
      // hits(full dict), the two dictionaries being disjoint by benchNew's
      // anti-join) lets ONE broadcast left-join against the unioned
      // dictionary mark hits while the same exploded pass counts shingles —
      // a single scan + single groupBy, where the r10 shape scanned the
      // shingles three times (sz groupBy, one join per dictionary, then a
      // union re-aggregate) and regressed the key 9.6→12.4 s. Consumed once
      // by the broadcast below — no cache needed.
      val evalDict = benchStd.unionByName(benchNew).withColumn("hit", lit(1))
      // standing docs revalidate on (standing dict) + (new shingles only);
      // delta docs check against the full dictionary — the SAME unioned
      // dictionary by the additive identity, so both pools go through ONE
      // contamination pass (r13: the former per-pool passes paid the explode
      // shuffle, the groupBy, and a shingle-array cache materialization
      // TWICE for rows one union separates for free — the final aggregate
      // unions the cleans anyway)
      val pool = Housekeeping.cacheBounded("inc_pool",
        poolStd.unionByName(poolDel).select("doc_id", "text", "n_chars"))
      val stats = LlmOps.shingleOccurrences("inc_pool_arr", pool.select("doc_id", "text"))
        .join(broadcast(evalDict), Seq("s"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n"), count(col("hit")).as("nh"))
      val clean = pool.join(stats, "doc_id")
        .where(col("nh").cast("double") / col("n") < 0.5)
        .select("doc_id", "text", "n_chars")
      val b = substring(md5(col("text")), 9, 4)
      clean
        .withColumn("split",
          when(b < "cccc", "train").when(b < "e666", "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          dsum(col("n_chars")).as("sum_chars"))
        .orderBy("split")
    },
    // the FULL-REBUILD oracle (== pipeline_corpus_build's): hash equality
    // proves incremental ≡ rebuild
    Some("WITH q AS (SELECT doc_id, source, text, n_chars FROM documents " +
      "WHERE n_chars >= 64 AND n_chars <= 4096 AND len(string_split(text, ' ')) >= 10 " +
      "AND regexp_matches(text, '^[a-z ]+$')), " +
      "keep AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)), " +
      "pool AS (SELECT q.* FROM q JOIN keep USING (doc_id) WHERE source <> 'src0'), " +
      "pw AS (SELECT doc_id, string_split(text, ' ') AS w FROM pool), " +
      "g AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s FROM pw WHERE len(w) >= 3), " +
      "bw AS (SELECT string_split(text, ' ') AS w FROM documents WHERE source = 'src0'), " +
      "bench AS (SELECT DISTINCT unnest(list_distinct(list_transform(generate_series(1, len(w) - 2), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS s FROM bw WHERE len(w) >= 3), " +
      "sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1), " +
      "hit AS (SELECT doc_id, COUNT(*) AS nh FROM g JOIN bench USING (s) GROUP BY 1), " +
      "clean AS (SELECT pool.doc_id, pool.text, pool.n_chars FROM pool " +
      "JOIN sz ON sz.doc_id = pool.doc_id LEFT JOIN hit ON hit.doc_id = pool.doc_id " +
      "WHERE CAST(COALESCE(nh, 0) AS DOUBLE) / sz.n < 0.5) " +
      "SELECT CASE WHEN substr(md5(text), 9, 4) < 'cccc' THEN 'train' " +
      "WHEN substr(md5(text), 9, 4) < 'e666' THEN 'val' ELSE 'test' END AS split, " +
      "COUNT(*) AS n_docs, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens, " +
      oSum("n_chars") + " AS sum_chars " +
      "FROM clean GROUP BY 1 ORDER BY split"))

  /** Temperature-scaled mixture resampling (the UNIMAX / multilingual-LM
    * recipe): each source's share of a global character budget is
    * proportional to chars_s^(1/2) — temperature flattening with α = 0.5 —
    * so heavy sources are down-weighted and light sources over-represented
    * relative to natural frequency. Everything is exact integer arithmetic:
    * the only float op is sqrt (IEEE correctly-rounded, floored to BIGINT on
    * both engines), weights/quotas are integer products and divisions, and
    * each source fills its character quota in content-keyed order
    * (md5(text), doc_id cumulative n_chars ≤ quota) — deterministic EXACT
    * budget landing, not a rate sampler. α is the temperature knob: 1 is
    * natural frequency, 0 is uniform; 1/2 is spelled as sqrt so there is no
    * libm pow() in the hash surface (pow is not correctly rounded and may
    * differ between engines in the last ulp).
    *
    * Scale notes (100 TB): two tiny aggregates (rows = #sources, broadcast
    * back) + ONE window shuffle partitioned by source for the cumulative
    * fill — same single-shuffle shape as [[sampleMixtureQuota]]; a dominant
    * source gets the salt-then-restitch treatment if its stratum skews. */
  val sampleTemperature: Op = Op(
    "sample_temperature",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val mass = docs.groupBy("source").agg(sum(col("n_chars")).as("chars_s"))
        .withColumn("w", floor(sqrt(col("chars_s").cast("double"))).cast("long"))
      val totals = mass.agg(sum(col("w")).as("tot_w"), sum(col("chars_s")).as("tot_chars"))
      val quota = mass.crossJoin(broadcast(totals))
        .select(col("source"), expr("((tot_chars div 2) * w) div tot_w").as("quota"))
      val win = Window.partitionBy("source").orderBy(col("u"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.select(col("doc_id"), col("source"), col("n_chars"), md5(col("text")).as("u"))
        .withColumn("cum_chars", sum(col("n_chars")).over(win))
        .join(broadcast(quota), "source")
        .where(col("cum_chars") <= col("quota"))
        .select(col("doc_id"), col("source"), col("cum_chars"))
        .orderBy("doc_id")
    },
    Some("WITH m AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars_s " +
      "FROM documents GROUP BY 1), " +
      "mw AS (SELECT source, chars_s, " +
      "CAST(floor(sqrt(CAST(chars_s AS DOUBLE))) AS BIGINT) AS w FROM m), " +
      "t AS (SELECT CAST(SUM(w) AS BIGINT) AS tot_w, " +
      "CAST(SUM(chars_s) AS BIGINT) AS tot_chars FROM mw), " +
      "q AS (SELECT source, ((tot_chars // 2) * w) // tot_w AS quota FROM mw, t), " +
      "r AS (SELECT doc_id, source, CAST(SUM(n_chars) OVER (PARTITION BY source " +
      "ORDER BY md5(text), doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
      "AS BIGINT) AS cum_chars FROM documents) " +
      "SELECT r.doc_id, r.source, r.cum_chars FROM r JOIN q USING (source) " +
      "WHERE cum_chars <= quota ORDER BY doc_id"))

  /** Quota-balanced mixture sampling — the "data mixing" step of a training
    * corpus build: every source stratum is capped at 3/4 of the SMALLEST
    * stratum's size (equal representation with guaranteed thinning — on a
    * balanced corpus a pure min-quota keeps everything), and which documents fill each
    * quota is content-keyed — docs rank within their source by md5(text)
    * (doc_id tiebreak), so the selection is deterministic, re-runnable, and
    * (unlike a rate-based sampler) lands EXACT per-source counts. The
    * complement of [[sampleStratified]]: that thins by rate, this balances
    * by quota.
    *
    * Scale notes (100 TB): one count aggregate (rows = #sources, broadcast
    * back), one rank window partitioned by source — a single shuffle on the
    * stratum key; a dominant source at corpus scale gets the same
    * salt-then-restitch treatment as `join_skew_salted`. (The rank cap is a
    * runtime scalar, so WindowGroupLimit can NOT prune below the sort the
    * way a literal top-k does — at 100 TB, feed the collected quota back in
    * as a literal to buy that pushdown; here the dynamic spelling keeps the
    * op a single self-contained query.) */
  val sampleMixtureQuota: Op = Op(
    "sample_mixture_quota",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val quota = docs.groupBy("source").agg(count(lit(1)).as("n"))
        .agg(expr("(min(n) * 3) div 4").as("quota"))
      val w = Window.partitionBy("source").orderBy(col("u"), col("doc_id"))
      docs.select(col("doc_id"), col("source"), md5(col("text")).as("u"))
        .withColumn("rk", row_number().over(w))
        .crossJoin(broadcast(quota))
        .where(col("rk") <= col("quota"))
        .select(col("doc_id"), col("source"), col("rk"))
        .orderBy("doc_id")
    },
    Some("WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1), " +
      "q AS (SELECT (MIN(n) * 3) // 4 AS quota FROM c), " +
      "r AS (SELECT doc_id, source, CAST(row_number() OVER " +
      "(PARTITION BY source ORDER BY md5(text), doc_id) AS INT) AS rk FROM documents) " +
      "SELECT doc_id, source, rk FROM r, q WHERE rk <= q.quota ORDER BY doc_id"))

  /** Dense sequential ID assignment WITHOUT a global sort — the
    * dimension-key / training-example-numbering primitive every warehouse
    * load and dataset build needs, in the shape that scales: a global
    * `row_number() OVER (ORDER BY …)` funnels the corpus through ONE
    * partition; instead the order key (md5 of content — identical on both
    * engines) is range-bucketed by its first byte, per-bucket counts (256
    * tiny rows) cumulative-sum into bucket base offsets, and each row's id
    * is its bucket offset + its rank WITHIN the bucket. Because the bucket
    * is a PREFIX of the order key, (bucket, key) ordering ≡ global key
    * ordering — so the result is bit-identical to the global row_number,
    * which is the oracle.
    *
    * Scale notes (100 TB): the corpus shuffles once on the bucket (256-way
    * here; width is a knob), per-bucket ranking is partition-local, and the
    * only global object is the 256-row offset table (broadcast). This is
    * exactly how distributed sort assigns output positions — expressed
    * relationally. */
  val idsDenseAssign: Op = Op(
    "ids_dense_assign",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .withColumn("b", substring(col("h"), 1, 2))
      val offsets = docs.groupBy("b").agg(count(lit(1)).as("n"))
        // 256-row driver-side-tiny table: the unpartitioned window is the
        // point (offsets are inherently sequential); it never sees the corpus
        .withColumn("base", coalesce(sum(col("n")).over(
          Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("b", "base")
      val w = Window.partitionBy("b").orderBy("h", "doc_id")
      docs.join(broadcast(offsets), "b")
        .withColumn("assigned_id", col("base") + row_number().over(w))
        .select(col("doc_id"), col("assigned_id"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, row_number() OVER (ORDER BY md5(text), doc_id) AS assigned_id " +
      "FROM documents ORDER BY doc_id"))

  /** Categorical feature encoding — the StringIndexer step of every tabular
    * training-prep pipeline, stated deterministically: each categorical
    * value's index is its FREQUENCY RANK (ties to lexicographic value
    * order), so the dictionary is a pure function of the data — re-running
    * on the same corpus reproduces identical indices (MLlib's fit/save
    * artifact, derived instead of stored). Output is the encoded fact rows
    * (customer segment + order priority indices per order).
    *
    * Scale notes (100 TB): each dictionary is one map-side-combinable
    * groupBy count over a LOW-cardinality column (segments, priorities —
    * dictionaries are KBs at any corpus width) and broadcasts back onto the
    * fact scan; the fact table itself never shuffles. The dense_rank
    * windows run over dictionary-sized inputs only. */
  val featureOnehotEncode: Op = Op(
    "feature_onehot_encode",
    (s, d) => {
      def dict(df: DataFrame, c: String) = df
        .groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        .withColumn("idx", dense_rank().over(
          Window.orderBy(desc("cnt"), asc("v"))) - 1)
      val segD = dict(Tables.customer(s, d), "c_mktsegment")
        .select(col("v").as("seg_v"), col("idx").as("seg_idx"))
      val priD = dict(Tables.orders(s, d), "o_orderpriority")
        .select(col("v").as("pri_v"), col("idx").as("pri_idx"))
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(segD), col("c_mktsegment") === col("seg_v"))
        .join(broadcast(priD), col("o_orderpriority") === col("pri_v"))
        .select(col("o_orderkey"), col("seg_idx"), col("pri_idx"))
        .orderBy("o_orderkey")
    },
    Some("WITH segd AS (SELECT v, CAST(dense_rank() OVER (ORDER BY cnt DESC, v) - 1 AS INT) " +
      "AS seg_idx FROM (SELECT c_mktsegment AS v, COUNT(*) AS cnt FROM customer GROUP BY 1)), " +
      "prid AS (SELECT v, CAST(dense_rank() OVER (ORDER BY cnt DESC, v) - 1 AS INT) " +
      "AS pri_idx FROM (SELECT o_orderpriority AS v, COUNT(*) AS cnt FROM orders GROUP BY 1)) " +
      "SELECT o_orderkey, seg_idx, pri_idx FROM orders " +
      "JOIN customer ON o_custkey = c_custkey " +
      "JOIN segd ON c_mktsegment = segd.v JOIN prid ON o_orderpriority = prid.v " +
      "ORDER BY o_orderkey"))

  /** Numeric min-max scaling to [0,1] per group — the normalization step
    * feature pipelines run before distance-based models. Exactness policy:
    * bounds and numerators are integer CENTS (exact), and each scaled value
    * is ONE IEEE division of two exactly-represented doubles — identical on
    * both engines, no accumulated float math anywhere (the
    * [[graft.ops.StatsOps]] moment playbook applied row-wise).
    *
    * Scale notes (100 TB): per-group bounds are one map-side-combinable
    * aggregate (|groups| rows) broadcast back onto the scan; the fact rows
    * never shuffle. Same shape as `stats_histogram`'s binning pass. */
  val featureScaleMinmax: Op = Op(
    "feature_scale_minmax",
    (s, d) => {
      val cents = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          (col("l_extendedprice").cast(D12_2) * 100).cast("bigint").as("p"),
          col("l_returnflag"))
      val bounds = cents.groupBy("l_returnflag")
        .agg(min(col("p")).as("mn"), max(col("p")).as("mx"))
      cents.join(broadcast(bounds), "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_returnflag"),
          ((col("p") - col("mn")).cast("double") /
            (col("mx") - col("mn")).cast("double")).as("price_scaled"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_returnflag", "price_scaled")
    },
    Some("WITH c AS (SELECT l_orderkey, l_linenumber, l_partkey, " +
      "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS p, l_returnflag " +
      "FROM lineitem), " +
      "b AS (SELECT l_returnflag, MIN(p) AS mn, MAX(p) AS mx FROM c GROUP BY 1) " +
      "SELECT l_orderkey, l_linenumber, l_partkey, c.l_returnflag AS l_returnflag, " +
      "CAST(p - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE) AS price_scaled " +
      "FROM c JOIN b ON c.l_returnflag = b.l_returnflag " +
      "ORDER BY l_orderkey, l_linenumber, l_partkey, c.l_returnflag, price_scaled"))

  /** Per-label centroid + cosine outliers — the mislabeled-example detector
    * every embedding-curation pass runs: quantize each vector to the exact
    * int8 grid ([[embedQuantizeInt8]]'s round-half-up ladder), build each
    * label's centroid as EXACT integer dimension sums (Σq per dim — a
    * rational centroid, never a float mean), score every member by cosine
    * to its own centroid, and keep the 5 least-aligned per label. The
    * three cosine components (q·Σq, |q|², |Σq|²) are exact BIGINTs; cosine
    * itself is the ONE fixed IEEE spelling dot / √(nq²·nc²), identical on
    * both engines, so even the ranking (cos asc, vec_id tie-break) is
    * deterministic.
    *
    * Scale notes (100 TB): posexplode is scan-local; the centroid is a
    * (label, dim)-keyed map-side-combinable sum (labels × dims rows —
    * tiny) broadcast back to members; scoring is an equi-join + one
    * groupBy per vec; top-5 is a per-label window over a 5-element
    * candidate set after pushdown. No pairwise anything — cost is
    * members × dims, linear in corpus size. */
  val embedCentroidOutliers: Op = Op(
    "embed_centroid_outliers",
    (s, d) => {
      val q = int8Scaled(Tables.embeddings(s, d))
        .select(col("vec_id"), col("label"),
          posexplode(expr("transform(v, x -> cast(floor(x * scale + 0.5) as bigint))")))
        .select(col("vec_id"), col("label"), col("pos").as("i"), col("col").as("q"))
      val cent = q.groupBy("label", "i").agg(sum(col("q")).as("sq"))
      val nc2 = cent.groupBy("label").agg(sum(col("sq") * col("sq")).as("nc2"))
      val scored = q.join(cent, Seq("label", "i"))
        .groupBy("vec_id", "label")
        .agg(sum(col("q") * col("sq")).as("dot"), sum(col("q") * col("q")).as("nq2"))
        .join(broadcast(nc2), "label")
        .select(col("label"), col("vec_id"), col("dot"), col("nq2"), col("nc2"),
          (col("dot").cast("double") /
            sqrt(col("nq2").cast("double") * col("nc2").cast("double"))).as("cos_centroid"))
      val w = Window.partitionBy("label").orderBy(col("cos_centroid").asc, col("vec_id").asc)
      scored.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("label"), col("rn"), col("vec_id"), col("dot"), col("nq2"), col("nc2"),
          col("cos_centroid"))
        .orderBy("label", "rn")
    },
    Some("WITH e AS (SELECT vec_id, label, embedding, " +
      "CASE WHEN maxabs = 0 THEN 0.0 ELSE 127.0 / maxabs END AS scale " +
      "FROM (SELECT vec_id, label, embedding, " +
      "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs " +
      "FROM embeddings)), " +
      "q AS (SELECT vec_id, label, g.i AS i, " +
      "CAST(floor(CAST(embedding[g.i] AS DOUBLE) * scale + 0.5) AS BIGINT) AS q " +
      "FROM e, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g), " +
      "cent AS (SELECT label, i, CAST(SUM(q) AS BIGINT) AS sq FROM q GROUP BY 1, 2), " +
      "n2 AS (SELECT label, CAST(SUM(sq * sq) AS BIGINT) AS nc2 FROM cent GROUP BY 1), " +
      "sc AS (SELECT q.vec_id, q.label, CAST(SUM(q.q * c.sq) AS BIGINT) AS dot, " +
      "CAST(SUM(q.q * q.q) AS BIGINT) AS nq2 " +
      "FROM q JOIN cent c ON q.label = c.label AND q.i = c.i GROUP BY 1, 2), " +
      "cosd AS (SELECT sc.label, sc.vec_id, dot, nq2, n2.nc2, " +
      "CAST(dot AS DOUBLE) / sqrt(CAST(nq2 AS DOUBLE) * CAST(n2.nc2 AS DOUBLE)) AS cos_centroid " +
      "FROM sc JOIN n2 ON sc.label = n2.label), " +
      "r AS (SELECT *, row_number() OVER (PARTITION BY label " +
      "ORDER BY cos_centroid ASC, vec_id ASC) AS rn FROM cosd) " +
      "SELECT label, CAST(rn AS INT) AS rn, vec_id, dot, nq2, nc2, cos_centroid " +
      "FROM r WHERE rn <= 5 ORDER BY label, rn"))

  /** Nearest-centroid CLASSIFICATION with a confusion matrix — the
    * embedding-quality eval a labeling pipeline runs before trusting a
    * cheap classifier: every vector assigns to the label whose centroid it is
    * most cosine-similar to, and the (true label, predicted) census says
    * how separable the embedding space is. Same exact-integer discipline
    * as [[embedCentroidOutliers]]: vectors int8-quantize per the shipped
    * formula, centroids are BIGINT per-dimension SUMS (order-free, shard-
    * mergeable), every dot/norm is an exact integer, and the single IEEE
    * step per (vector, label) is one division of identical exact integers
    * on both engines — the K-way argmax can never flip across engines or
    * partitionings (ties break to the highest label, stated on both
    * sides).
    *
    * Scale notes (100 TB): the quantized explode is scan-local; centroids
    * are one (label, dim) aggregate (K·dims rows, broadcast back); scoring
    * is a dims-keyed join fanning each vector row K ways — members × dims
    * × K linear, no pair space; the confusion matrix is K² rows. */
  val embedCentroidClassify: Op = Op(
    "embed_centroid_classify",
    (s, d) => {
      val q = int8Scaled(Tables.embeddings(s, d))
        .select(col("vec_id"), col("label"),
          posexplode(expr("transform(v, x -> cast(floor(x * scale + 0.5) as bigint))")))
        .select(col("vec_id"), col("label"), col("pos").as("i"), col("col").as("q"))
      val cent = q.groupBy(col("label").as("clabel"), col("i"))
        .agg(sum(col("q")).as("sq"))
      val nc2 = cent.groupBy("clabel").agg(sum(col("sq") * col("sq")).as("nc2"))
      val pred = q.join(cent, Seq("i")) // every vector scores ALL K centroids
        .groupBy("vec_id", "label", "clabel")
        .agg(sum(col("q") * col("sq")).as("dt"), sum(col("q") * col("q")).as("nq2"))
        .join(broadcast(nc2), "clabel")
        .select(col("vec_id"), col("label"),
          struct((col("dt").cast("double") /
            sqrt(col("nq2").cast("double") * col("nc2").cast("double"))).as("cs"),
            col("clabel")).as("sc"))
        .groupBy("vec_id", "label")
        .agg(max(col("sc")).getField("clabel").as("predicted"))
      pred.groupBy("label", "predicted")
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "predicted")
    },
    Some("WITH e AS (SELECT vec_id, label, embedding, " +
      "CASE WHEN maxabs = 0 THEN 0.0 ELSE 127.0 / maxabs END AS scale " +
      "FROM (SELECT vec_id, label, embedding, " +
      "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs " +
      "FROM embeddings)), " +
      "q AS (SELECT vec_id, label, g.i AS i, " +
      "CAST(floor(CAST(embedding[g.i] AS DOUBLE) * scale + 0.5) AS BIGINT) AS q " +
      "FROM e, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g), " +
      "cent AS (SELECT label AS clabel, i, CAST(SUM(q) AS BIGINT) AS sq " +
      "FROM q GROUP BY 1, 2), " +
      "n2 AS (SELECT clabel, CAST(SUM(sq * sq) AS BIGINT) AS nc2 FROM cent GROUP BY 1), " +
      "sc AS (SELECT q.vec_id, q.label, c.clabel, " +
      "CAST(SUM(q.q * c.sq) AS BIGINT) AS dt, CAST(SUM(q.q * q.q) AS BIGINT) AS nq2 " +
      "FROM q JOIN cent c ON q.i = c.i GROUP BY 1, 2, 3), " +
      "cosd AS (SELECT sc.vec_id, sc.label, sc.clabel, " +
      "CAST(dt AS DOUBLE) / sqrt(CAST(nq2 AS DOUBLE) * CAST(n2.nc2 AS DOUBLE)) AS cs " +
      "FROM sc JOIN n2 ON sc.clabel = n2.clabel), " +
      "pred AS (SELECT vec_id, label, clabel AS predicted FROM (" +
      "SELECT *, row_number() OVER (PARTITION BY vec_id " +
      "ORDER BY cs DESC, clabel DESC) AS rn FROM cosd) WHERE rn = 1) " +
      "SELECT label, predicted, CAST(COUNT(*) AS BIGINT) AS n FROM pred " +
      "GROUP BY 1, 2 ORDER BY label, predicted"))

  /** The hashing trick — fixed-width feature vectorization without a
    * vocabulary: every token maps to bucket md5(token)[0:8] mod 64 (the
    * content-addressed bucket assignment, engine-portable like the
    * sampling ops' hex-threshold rule — no engine hash parity needed),
    * and a document's feature vector is its per-bucket token counts,
    * emitted sparse. This is how a 100 TB corpus gets bag-of-words
    * features with ZERO global state: no vocab build, no id-assignment
    * join, no OOV problem — the exact property that makes it the
    * incremental-pipeline vectorizer. A 1-in-20 doc_id slice keeps the
    * demo output bounded; the full-corpus plan is identical.
    *
    * Scale notes (100 TB): md5 + mod are scan-local codegen'd expressions;
    * the only shuffle is the (doc, bucket) count — output volume ≤
    * docs × 64 regardless of vocabulary size, and the map-side partial
    * collapses repeated tokens before it. */
  val featureHashVectorize: Op = Op(
    "feature_hash_vectorize",
    (s, d) => {
      Tables.documents(s, d)
        .where(col("doc_id") % 20 === 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .where(length(col("tok")) > 0)
        .select(col("doc_id"),
          (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("bigint") % 64).as("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("doc_id", "bucket")
    },
    Some("SELECT doc_id, " +
      "CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS bucket, " +
      "CAST(COUNT(*) AS BIGINT) AS n " +
      "FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents " +
      "WHERE doc_id % 20 = 0) WHERE len(tok) > 0 " +
      "GROUP BY 1, 2 ORDER BY 1, 2"))

  /** The DATASET CARD — the per-source summary table a corpus release
    * ships (and the first thing a consumer reads): documents, exact-dup
    * survivors, language count, characters, whitespace tokens, per source
    * plus a TOTAL row. Everything is an exact integer aggregate; the dup
    * survivor count is |distinct md5(text)| per source — the same
    * content-hash the dedup family keys on, so the card's "unique" column
    * is consistent with what [[graft.ops.LlmOps.dedupExact]] would keep.
    *
    * Scale notes (100 TB): one scan; per-source partials combine
    * map-side; the distinct-hash count expands to one extra exchange on
    * (source, hash) — at extreme scale the HLL sketch column is the
    * drop-in ([[AggOps.aggApproxHll]]'s swap story). */
  val pipelineDatasetCard: Op = Op(
    "pipeline_dataset_card",
    (s, d) => {
      val base = Tables.documents(s, d).select(col("source"), col("lang"),
        col("n_chars"), size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("text")).as("h"))
      val perSource = base.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("h")).as("n_unique"),
        count_distinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"))
      perSource.unionAll(
          base.agg(count(lit(1)).as("n_docs"), count_distinct(col("h")).as("n_unique"),
              count_distinct(col("lang")).as("n_langs"), sum(col("n_chars")).as("total_chars"),
              sum(col("n_tokens")).as("total_tokens"))
            .select(lit("TOTAL").as("source"), col("n_docs"), col("n_unique"),
              col("n_langs"), col("total_chars"), col("total_tokens")))
        .orderBy("source")
    },
    Some("WITH b AS (SELECT source, lang, n_chars, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, md5(text) AS h " +
      "FROM documents), " +
      "card AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
      "CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique, " +
      "CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs, " +
      "CAST(SUM(n_chars) AS BIGINT) AS total_chars, " +
      "CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM b GROUP BY source " +
      "UNION ALL SELECT 'TOTAL', CAST(COUNT(*) AS BIGINT), " +
      "CAST(COUNT(DISTINCT h) AS BIGINT), CAST(COUNT(DISTINCT lang) AS BIGINT), " +
      "CAST(SUM(n_chars) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT) FROM b) " +
      "SELECT * FROM card ORDER BY source"))

  /** POINT-IN-TIME-correct feature assembly — the feature-store join that
    * decides whether a model is trainable at all: for every label event
    * (a purchase), attach features computed from STRICTLY-PRIOR history
    * only — here the user's prior event count and their most recent prior
    * click amount. Both features fall out of ONE pass over the unioned
    * timeline per user (row_number − 1 for the count; last(ignoreNulls)
    * over an UNBOUNDED-PRECEDING-TO-−1 frame for the as-of value — the
    * [[JoinOps]] as-of trick), so no per-label subquery ever rescans
    * history, and future leakage is structurally impossible (the frame
    * ends at −1). NULL feature (no prior click) stays a NULL BIGINT —
    * inside the hash-safe envelope.
    *
    * Scale notes (100 TB): one shuffle on user_id, one window sort,
    * output ∝ labels. Adding a feature = adding a column to the same
    * window pass, not another join — the property that keeps a 50-feature
    * PIT assembly at one exchange. */
  val pipelinePitFeatures: Op = Op(
    "pipeline_pit_features",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wPrior = w.rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
          when(col("event_type") === "click",
            (col("value").cast(D12_2) * 100).cast("bigint")).as("click_cents"))
        .withColumn("f_prior_events", (row_number().over(w) - 1).cast("long"))
        .withColumn("f_last_click_cents", last(col("click_cents"), ignoreNulls = true).over(wPrior))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("f_prior_events"), col("f_last_click_cents"))
        .orderBy("event_id")
    },
    Some("WITH t AS (SELECT event_id, user_id, ts, event_type, " +
      "CASE WHEN event_type = 'click' " +
      "THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) END AS click_cents " +
      "FROM events), " +
      "f AS (SELECT event_id, user_id, ts, event_type, " +
      "CAST(row_number() OVER w - 1 AS BIGINT) AS f_prior_events, " +
      "last_value(click_cents IGNORE NULLS) OVER " +
      "(PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS f_last_click_cents " +
      "FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
      "SELECT event_id, user_id, ts, f_prior_events, f_last_click_cents " +
      "FROM f WHERE event_type = 'purchase' ORDER BY event_id"))

  /** K-fold cross-validation assignment — the CONTENT-KEYED fold split
    * (fold = first 8 hex chars of md5(text) mod 5): like
    * [[splitTrainValTest]], re-running on a grown corpus never flips a
    * document's fold, and byte-identical documents share a fold by
    * construction (no exact-dup leakage across folds). Emits the
    * (doc, fold) table plus per-fold size so balance is auditable — the
    * hex-uniform hash keeps folds within sampling noise of n/k.
    *
    * Scale notes (100 TB): scan-local hash + mod; the size audit is one
    * tiny groupBy. The near-dup-safe variant composes with
    * [[graft.ops.LlmOps.splitClusterSafe]]'s representative hash the same
    * way. */
  val splitKfoldAssign: Op = Op(
    "split_kfold_assign",
    (s, d) => {
      val fold = (conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast("bigint") % 5).cast("int")
      Tables.documents(s, d)
        .select(col("doc_id"), fold.as("fold"))
        .orderBy("doc_id")
    },
    Some("SELECT doc_id, CAST(CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) " +
      "% 5 AS INT) AS fold FROM documents ORDER BY doc_id"))

  /** Deterministic NEGATIVE MINING — the contrastive-training sampler every
    * recommendation / retrieval pipeline needs: for each customer with
    * purchase interactions, up to 3 parts they did NOT interact with,
    * drawn by a pure multiplicative hash chain over the part domain
    * (candidate i = (cust·2654435761 + i·40503) mod maxPart + 1, i = 1..8),
    * deduped to the first occurrence, anti-joined against the interaction
    * set, ranked by chain position. No RNG anywhere — the same corpus
    * always yields the same negatives (the reproducible-training-run
    * property), and the arithmetic is exact BIGINT on both engines (no
    * hex-parse portability trap).
    *
    * Scale notes (100 TB): the interaction set is one distinct aggregate;
    * candidates are a scan-local 8× fan-out of the USER list (not the
    * interactions); the anti-join is the one keyed shuffle — co-located
    * under bucketing on (user, item). Chain overdraw (8 draws for 3 keeps)
    * bounds the miss probability without a resample loop. */
  val sampleNegativesHash: Op = Op(
    "sample_negatives_hash",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val inter = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
        .distinct()
      val mx = Tables.part(s, d).agg(max(col("p_partkey")).as("mx"))
      val cands = inter.select("cust").distinct()
        .crossJoin(broadcast(mx))
        .select(col("cust"), explode(sequence(lit(1L), lit(8L))).as("i"), col("mx"))
        .select(col("cust"), col("i"),
          (pmod(col("cust") * lit(2654435761L) + col("i") * lit(40503L), col("mx")) + 1L)
            .as("part"))
        .groupBy("cust", "part").agg(min(col("i")).as("i"))
      val w = Window.partitionBy("cust").orderBy("i")
      cands.join(inter, Seq("cust", "part"), "left_anti")
        .withColumn("neg_rank", row_number().over(w))
        .where(col("neg_rank") <= 3)
        .select(col("cust"), col("neg_rank"), col("part"))
        .orderBy("cust", "neg_rank")
    },
    Some("WITH inter AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS part " +
      "FROM orders JOIN lineitem ON l_orderkey = o_orderkey), " +
      "mx AS (SELECT MAX(p_partkey) AS mx FROM part), " +
      "cand AS (SELECT cust, part, MIN(i) AS i FROM (" +
      "SELECT u.cust, g.i, ((u.cust * 2654435761 + g.i * 40503) % mx.mx) + 1 AS part " +
      "FROM (SELECT DISTINCT cust FROM inter) u, mx, " +
      "(SELECT unnest(generate_series(1, 8)) AS i) g) GROUP BY 1, 2), " +
      "negs AS (SELECT c.cust, c.part, c.i FROM cand c " +
      "WHERE NOT EXISTS (SELECT 1 FROM inter x " +
      "WHERE x.cust = c.cust AND x.part = c.part)) " +
      "SELECT cust, CAST(rn AS INT) AS neg_rank, CAST(part AS BIGINT) AS part FROM (" +
      "SELECT cust, part, row_number() OVER (PARTITION BY cust ORDER BY i) AS rn " +
      "FROM negs) WHERE rn <= 3 ORDER BY cust, neg_rank"))

  val all: Seq[Op] = Seq(sampleStratified, splitTrainValTest, packSequences, embedQuantizeInt8,
    pipelineCorpusBuild, sampleReservoirGroup, sampleWeightedHash, embedGramExact,
    sampleMixtureQuota, sampleTemperature, embedRandomProjection, pipelineIncrementalUpdate, idsDenseAssign,
    featureOnehotEncode, featureScaleMinmax, embedCentroidOutliers, featureHashVectorize,
    pipelineDatasetCard, pipelinePitFeatures, splitKfoldAssign, sampleNegativesHash,
    embedCentroidClassify, pipelineShardBalance, pipelineBudgetSelect)
}
