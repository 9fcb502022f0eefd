package graft.ops

import graft.QueryDef
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (north-star
  * surface): language-ID heuristic, quality scoring, token counting,
  * document fingerprinting. All pure column expressions — fully
  * codegen'd, no UDFs.
  */
object TextOps {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopSqlList = stopwords.map(w => s"'$w'").mkString(", ")

  /** Language-ID heuristic: stopword-hit ratio over tokens (the
    * n-gram-profile approach degenerates to a stopword profile on this
    * space-delimited corpus); `lang` column kept for accuracy eyeball.
    */
  val textLangid = QueryDef(
    "text_langid",
    Some(s"""SELECT doc_id, lang,
            |  CAST(SUM(CASE WHEN w IN ($stopSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS stop_hits,
            |  COUNT(*) AS n_tokens,
            |  CASE WHEN CAST(SUM(CASE WHEN w IN ($stopSqlList) THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 0.05
            |       THEN 'en-like' ELSE 'other' END AS predicted
            |FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents)
            |WHERE length(w) > 0
            |GROUP BY doc_id, lang
            |ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val hits = sum(when(col("w").isin(stopwords: _*), 1).otherwise(0))
      Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("doc_id", "lang")
        .agg(
          hits.cast("long").as("stop_hits"),
          count(lit(1)).as("n_tokens"))
        .withColumn("predicted",
          when(col("stop_hits").cast("double") / col("n_tokens") >= 0.05, "en-like")
            .otherwise("other"))
        .orderBy("doc_id")
    })

  /** Quality scoring: length / token / stopword-ratio features with a
    * thresholded composite score — the filter stage of a data-quality
    * pipeline. */
  val textQuality = QueryDef(
    "text_quality",
    Some(s"""WITH f AS (
            |  SELECT doc_id,
            |    length(text) AS n_chars_actual,
            |    len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS n_words,
            |    len(list_filter(string_split(text, ' '), w -> w IN ($stopSqlList))) AS n_stop
            |  FROM documents)
            |-- empty docs are filtered, not scored (ANSI-safe: no /0)
            |SELECT doc_id, n_chars_actual,
            |  CAST(n_words AS BIGINT) AS n_words,
            |  ${graft.QueryDef.roundedRatioSql("n_chars_actual", "n_words", 4)} AS chars_per_word,
            |  ${graft.QueryDef.roundedRatioSql("n_stop", "n_words", 4)} AS stop_ratio,
            |  CASE WHEN n_words >= 20 AND CAST(n_stop AS DOUBLE) / n_words BETWEEN 0.01 AND 0.6
            |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
            |FROM f
            |WHERE n_words > 0
            |ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val words = filter(split(col("text"), " "), w => length(w) > 0)
      val stops = filter(split(col("text"), " "), w => w.isin(stopwords: _*))
      Tables.table(spark, dir, "documents")
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars_actual"),
          size(words).as("n_words_i"),
          size(stops).as("n_stop_i"))
        .filter(col("n_words_i") > 0)
        .select(
          col("doc_id"),
          col("n_chars_actual"),
          col("n_words_i").cast("long").as("n_words"),
          graft.QueryDef.roundedRatio(col("n_chars_actual"), col("n_words_i"), 4).as("chars_per_word"),
          graft.QueryDef.roundedRatio(col("n_stop_i"), col("n_words_i"), 4).as("stop_ratio"),
          when(col("n_words_i") >= 20 &&
            (col("n_stop_i").cast("double") / col("n_words_i")).between(0.01, 0.6), 1L)
            .otherwise(0L).as("keep"))
        .orderBy("doc_id")
    })

  /** Token counting: whitespace tokens, a BPE-ish subword estimate
    * (4-char chunks of the alphabetic runs), and corpus totals per
    * source. */
  val textTokens = QueryDef(
    "text_tokens",
    Some("""SELECT source,
           |  COUNT(*) AS n_docs,
           |  CAST(SUM(len(list_filter(string_split(text, ' '), w -> length(w) > 0))) AS BIGINT) AS ws_tokens,
           |  CAST(SUM(CAST(ceil(length(replace(text, ' ', '')) / 4.0) AS BIGINT)) AS BIGINT) AS subword_est
           |FROM documents
           |GROUP BY source
           |ORDER BY source""".stripMargin),
    (spark, dir) =>
      Tables.table(spark, dir, "documents")
        .select(
          col("source"),
          size(filter(split(col("text"), " "), w => length(w) > 0)).as("ws_tokens_i"),
          ceil(length(regexp_replace(col("text"), " ", "")) / 4.0).as("subword_i"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("ws_tokens_i")).cast("long").as("ws_tokens"),
          sum(col("subword_i")).cast("long").as("subword_est"))
        .orderBy("source"))

  /** Document fingerprinting: md5 over the sorted distinct token set
    * (a deterministic content fingerprint; the grouping form lives in
    * dedup_fingerprint). */
  val textFingerprint = QueryDef(
    "text_fingerprint",
    Some("""SELECT doc_id,
           |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
           |  len(list_distinct(string_split(text, ' '))) AS vocab
           |FROM documents
           |ORDER BY doc_id""".stripMargin),
    (spark, dir) =>
      Tables.table(spark, dir, "documents")
        .select(
          col("doc_id"),
          md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))).as("fp"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("vocab"))
        .orderBy("doc_id"))

  /** Text normalization for training-data prep: lowercase, strip
    * non-alphanumerics, collapse whitespace — the cleaning stage before
    * tokenization. */
  val textClean = QueryDef(
    "text_clean",
    Some("""SELECT doc_id,
           |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS clean,
           |  length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS clean_len
           |FROM documents
           |ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      val clean = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      Tables.table(spark, dir, "documents")
        .select(col("doc_id"), clean.as("clean"), length(clean).cast("long").as("clean_len"))
        .orderBy("doc_id")
    })

  /** Fixed-size chunking with overlap (50-token windows, stride 40) —
    * the training-sample splitter. Emits chunk coordinates + sizes, one
    * row per chunk, computed entirely inside the row (no shuffle until
    * the final sort). */
  val textChunk = QueryDef(
    "text_chunk",
    Some("""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws
           |           FROM documents),
           |w2 AS (SELECT * FROM w WHERE len(ws) > 0),
           |c AS (SELECT doc_id, len(ws) AS n_tokens,
           |        unnest(generate_series(0, CAST(greatest(ceil((len(ws) - 50) / 40.0), 0) AS BIGINT))) AS chunk_id,
           |        ws
           |      FROM w2)
           |SELECT doc_id, chunk_id,
           |  CAST(chunk_id * 40 AS BIGINT) AS start_tok,
           |  CAST(least(chunk_id * 40 + 50, n_tokens) - chunk_id * 40 AS BIGINT) AS chunk_len,
           |  ws[chunk_id * 40 + 1] AS first_tok
           |FROM c
           |ORDER BY doc_id, chunk_id""".stripMargin),
    (spark, dir) =>
      Tables.table(spark, dir, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), " "), x => length(x) > 0).as("ws"))
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"), size(col("ws")).as("n_tokens"),
          explode(expr("sequence(0, CAST(greatest(ceil((size(ws) - 50) / 40.0), 0) AS BIGINT))")).as("chunk_id"),
          col("ws"))
        .select(
          col("doc_id"), col("chunk_id"),
          (col("chunk_id") * 40).cast("long").as("start_tok"),
          (least(col("chunk_id") * 40 + 50, col("n_tokens")) - col("chunk_id") * 40).cast("long").as("chunk_len"),
          element_at(col("ws"), (col("chunk_id") * 40 + 1).cast("int")).as("first_tok"))
        .orderBy("doc_id", "chunk_id"))

  /** Reproducible train/val/test split assignment: content-hash
    * deciles, so the split is a pure function of the document (stable
    * across runs, engines, and partitionings — the property that makes
    * dataset splits auditable). */
  val sampleSplit = QueryDef(
    "sample_split",
    Some("""WITH s AS (
           |  SELECT doc_id,
           |    CASE WHEN substr(md5(text), 1, 2) < '1a' THEN 'test'
           |         WHEN substr(md5(text), 1, 2) < '34' THEN 'val'
           |         ELSE 'train' END AS split
           |  FROM documents)
           |SELECT split, COUNT(*) AS n, CAST(min(doc_id) AS BIGINT) AS first_doc
           |FROM s
           |GROUP BY split
           |ORDER BY split""".stripMargin),
    (spark, dir) => {
      val bucket = substring(md5(col("text")), 1, 2)
      Tables.table(spark, dir, "documents")
        .select(col("doc_id"),
          when(bucket < "1a", "test")
            .when(bucket < "34", "val")
            .otherwise("train").as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).cast("long").as("first_doc"))
        .orderBy("split")
    })

  /** Stratified sampling: a fixed quota per source, chosen by
    * content-hash order (deterministic, no RNG state) — the balanced
    * subcorpus builder. */
  val sampleStratified = QueryDef(
    "sample_stratified",
    Some("""SELECT source, doc_id
           |FROM (SELECT source, doc_id,
           |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rn
           |      FROM documents)
           |WHERE rn <= 20
           |ORDER BY source, doc_id""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      // hash computed map-side, text dropped BEFORE the rank shuffle:
      // only (source, doc_id, h) cross the exchange — ordering by the
      // materialized h is identical to ordering by md5(text)
      val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      Tables.table(spark, dir, "documents")
        .select(col("source"), col("doc_id"), md5(col("text")).as("h"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    })

  /** Repetition metrics (the Gopher-style quality rules): per-doc
    * duplicate-token fraction and most-frequent-bigram fraction, with
    * a composite keep flag. All ratios are integer-count divisions —
    * exact across engines. At scale everything up to the final sort is
    * a per-doc computation: the bigram groupBy keys on (doc_id,
    * bigram), so partial aggregation absorbs the explode before any
    * shuffle row leaves the mapper. */
  val textRepetition = QueryDef(
    "text_repetition",
    Some(s"""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS ws FROM documents),
           |w2 AS (SELECT doc_id, ws, len(ws) AS n FROM w WHERE len(ws) >= 2),
           |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, n - 1), i -> ws[i] || ' ' || ws[i + 1])) AS b FROM w2),
           |bgc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
           |top AS (SELECT doc_id, MAX(c) AS top_ct FROM bgc GROUP BY doc_id)
           |SELECT w2.doc_id,
           |  CAST(n AS BIGINT) AS n_tokens,
           |  CAST(len(list_distinct(ws)) AS BIGINT) AS vocab,
           |  ${graft.QueryDef.roundedRatioSql("n - len(list_distinct(ws))", "n", 4)} AS dup_frac,
           |  CAST(top.top_ct AS BIGINT) AS top_bigram_ct,
           |  ${graft.QueryDef.roundedRatioSql("top.top_ct", "n - 1", 4)} AS top_bigram_frac,
           |  CASE WHEN 1 - CAST(len(list_distinct(ws)) AS DOUBLE) / n <= 0.5
           |        AND CAST(top.top_ct AS DOUBLE) / (n - 1) <= 0.05
           |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
           |FROM w2 JOIN top ON w2.doc_id = top.doc_id
           |ORDER BY w2.doc_id""".stripMargin),
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), " "), x => length(x) > 0).as("ws"))
        .filter(size(col("ws")) >= 2)
      // top bigram count is a PER-DOC scalar: sort the doc's own
      // bigram array and take the longest run of equal adjacent
      // elements — identical to MAX(count per distinct bigram), since
      // sorting makes equal strings adjacent. Computed in one map-side
      // projection: the old shape tokenized the corpus twice, exploded
      // every bigram through a (doc_id, b) exchange, aggregated twice
      // and self-joined — three corpus-token-sized shuffles for a
      // value that never needed to leave its row.
      val bgSorted =
        "array_sort(transform(sequence(1, size(ws) - 1), " +
          "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))))"
      val topCt = s"""aggregate(
        $bgSorted,
        named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
        (acc, x) -> named_struct(
          'prev', x,
          'run', IF(x <=> acc.prev, acc.run + 1L, 1L),
          'best', GREATEST(acc.best, IF(x <=> acc.prev, acc.run + 1L, 1L))),
        acc -> acc.best)"""
      docs
        .select(
          col("doc_id"),
          size(col("ws")).cast("long").as("n_tokens"),
          size(array_distinct(col("ws"))).cast("long").as("vocab"),
          expr(topCt).as("top_ct"))
        .select(
          col("doc_id"), col("n_tokens"), col("vocab"),
          graft.QueryDef.roundedRatio(
            col("n_tokens") - col("vocab"), col("n_tokens"), 4).as("dup_frac"),
          col("top_ct").as("top_bigram_ct"),
          graft.QueryDef.roundedRatio(
            col("top_ct"), col("n_tokens") - 1, 4).as("top_bigram_frac"),
          when((lit(1) - col("vocab").cast("double") / col("n_tokens")) <= 0.5 &&
            col("top_ct").cast("double") / (col("n_tokens") - 1) <= 0.05, 1L)
            .otherwise(0L).as("keep"))
        .orderBy("doc_id")
    })

  /** Corpus-frequency rarity scoring (an exact-arithmetic stand-in for
    * unigram-LM surprisal: rare tokens carry the signal, and integer
    * frequency sums avoid cross-engine libm/log divergence). Two-pass:
    * corpus token frequencies (tiny — vocab-sized), then a broadcast
    * join back onto the token stream. At 100 TB the frequency relation
    * stays broadcast-small (natural-language vocab, not corpus,
    * cardinality) and the per-doc aggregation is one shuffle on
    * doc_id. */
  val textRarityScore = QueryDef(
    "text_rarity_score",
    Some(s"""WITH tok AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
           |tok2 AS (SELECT doc_id, w FROM tok WHERE length(w) > 0),
           |freq AS (SELECT w, COUNT(*) AS cf FROM tok2 GROUP BY w)
           |SELECT t.doc_id,
           |  COUNT(*) AS n_tokens,
           |  CAST(SUM(f.cf) AS BIGINT) AS sum_freq,
           |  ${graft.QueryDef.roundedRatioSql("SUM(f.cf)", "COUNT(*)", 4)} AS avg_tok_freq,
           |  CAST(SUM(CASE WHEN f.cf < 500 THEN 1 ELSE 0 END) AS BIGINT) AS rare_ct,
           |  ${graft.QueryDef.roundedRatioSql("SUM(CASE WHEN f.cf < 500 THEN 1 ELSE 0 END)", "COUNT(*)", 4)} AS rare_frac
           |FROM tok2 t JOIN freq f ON t.w = f.w
           |GROUP BY t.doc_id
           |ORDER BY t.doc_id""".stripMargin),
    (spark, dir) => {
      val tok = Tables.table(spark, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
      val freq = tok.groupBy("w").agg(count(lit(1)).as("cf"))
      tok.join(broadcast(freq), "w")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(col("cf")).cast("long").as("sum_freq"),
          graft.QueryDef.roundedRatio(sum(col("cf")), count(lit(1)), 4).as("avg_tok_freq"),
          sum(when(col("cf") < 500, 1).otherwise(0)).cast("long").as("rare_ct"),
          graft.QueryDef.roundedRatio(
            sum(when(col("cf") < 500, 1).otherwise(0)), count(lit(1)), 4).as("rare_frac"))
        .orderBy("doc_id")
    })

  /** The trained model: token → weight, 3 dp. SINGLE source for the
    * batch broadcast-join query, its DuckDB oracle VALUES list, and
    * the row-local streaming gate [[modelKeepExpr]] — a retrained
    * model is one edit here. */
  val modelWeights: Seq[(String, String)] = Seq(
    "data" -> "0.120", "table" -> "0.095", "join" -> "0.110",
    "spark" -> "0.150", "window" -> "0.080", "stream" -> "0.085",
    "vector" -> "0.070", "slow" -> "-0.200", "a" -> "-0.060",
    "the" -> "-0.075")

  private val modelWeightsValuesSql = modelWeights
    .map { case (w, s) => s"('$w', CAST($s AS DECIMAL(6,3)))" }
    .mkString(",\n           |  ")

  /** Row-local form of the linear scorer: the KB-scale weight table
    * folded into a plan-literal MAP + one `aggregate()` pass over the
    * token array — no explode, no join, no shuffle, no state, so it
    * drops into any streaming plan (append mode, watermark-free) or
    * any batch filter position. The broadcast-join query remains the
    * big-vocab form (a 1 M-token vocab does not belong in a plan
    * literal). Same multiplied-out gate: keep ⇔ raw · 200 > n_tokens
    * on exact decimals. A token-free document yields NULL (no
    * decision), mirroring the batch query, where such a doc produces
    * no group at all — the two forms stay row-for-row consistent on
    * docs that HAVE a decision. */
  def modelKeepExpr(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val m = map(modelWeights.flatMap { case (w, s) =>
      Seq(lit(w), lit(s).cast("decimal(18,3)")) }: _*)
    val ws = filter(split(text, " "), w => length(w) > 0)
    val zero = lit("0").cast("decimal(18,3)")
    val raw = aggregate(ws, zero,
      (acc, w) => (acc + coalesce(element_at(m, w), zero)).cast("decimal(18,3)"))
    when(size(ws) > 0, raw * 200 > size(ws))
  }

  /** Linear bag-of-words quality scorer — the fastText-classifier
    * quality gate of the public corpus pipelines (CCNet / LLaMA data
    * prep score documents with a linear text classifier and keep by
    * threshold), re-expressed model-as-data: the trained weights ARE a
    * relation, shipped as a broadcast join, so scoring any corpus is
    * one map-side join + one per-doc aggregate — no UDF, no per-row
    * model object, and a retrained model is a data swap, not a code
    * deploy. Exactness: weights are DECIMAL(6,3) so the per-doc sum is
    * exact; the keep gate multiplies the σ(x)>σ(bias) test out to
    * `raw · 200 > n_tokens` (avg weight > 0.005) on exact decimal ×
    * integer, so both engines agree without evaluating a sigmoid; the
    * reported score divides only at the end (double ÷ int, rounded).
    * At 100 TB: the weight table is KBs forever (vocab-bounded), the
    * only shuffle is the per-doc groupBy, which an upstream
    * tokenize-stage partitioning by doc_id would eliminate. */
  val textQualityModel = QueryDef(
    "text_quality_model",
    Some(s"""WITH tok AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
           |tok2 AS (SELECT doc_id, w FROM tok WHERE length(w) > 0),
           |wt(w, wgt) AS (VALUES
           |  $modelWeightsValuesSql),
           |scored AS (
           |  SELECT t.doc_id, COUNT(*) AS n_tokens,
           |    CAST(SUM(CASE WHEN x.wgt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS matched_ct,
           |    COALESCE(SUM(x.wgt), CAST(0 AS DECIMAL(6,3))) AS raw
           |  FROM tok2 t LEFT JOIN wt x ON t.w = x.w
           |  GROUP BY t.doc_id)
           |SELECT doc_id, n_tokens, matched_ct,
           |  ${graft.QueryDef.roundedRatioSql("CAST(raw * 1000 AS BIGINT)", "n_tokens * 1000", 6)} AS model_score,
           |  (raw * 200 > n_tokens) AS keep
           |FROM scored
           |ORDER BY doc_id""".stripMargin),
    (spark, dir) => {
      import spark.implicits._
      val wt = modelWeights
        .toDF("w", "wgt_s")
        .select(col("w"), col("wgt_s").cast("decimal(6,3)").as("wgt"))
      Tables.table(spark, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .join(broadcast(wt), Seq("w"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("wgt").isNotNull, 1).otherwise(0)).cast("long").as("matched_ct"),
          coalesce(sum(col("wgt")), lit(0).cast("decimal(6,3)")).as("raw"))
        .select(
          col("doc_id"), col("n_tokens"), col("matched_ct"),
          graft.QueryDef.roundedRatio(
            (col("raw") * 1000).cast("long"), col("n_tokens") * 1000, 6).as("model_score"),
          (col("raw") * 200 > col("n_tokens")).as("keep"))
        .orderBy("doc_id")
    })

  /** The PII alternation (emails, digit runs) — ONE definition shared
    * by the batch redaction query, its oracle, and the streaming
    * ingest scrub, so the compliance pass cannot drift between
    * surfaces. Anchored to character classes valid in both Java and
    * RE2 dialects. */
  val piiPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+|[0-9]+"

  /** PII redaction: scrub email-shaped tokens and digit runs from the
    * raw event payloads before they enter a training corpus — the
    * mandatory scrubbing pass of a compliant data pipeline. A single
    * alternation regex evaluated once per row (both engines replace all
    * occurrences), plus a hit count for audit metrics. Pure map-side
    * work at any scale. */
  val textPiiRedact = QueryDef(
    "text_pii_redact",
    // piiPattern interpolated, not inlined: editing the alternation
    // changes Spark, the oracle, and the streaming scrub together
    Some(s"""SELECT event_id,
           |  regexp_replace(props, '$piiPattern', '<PII>', 'g') AS redacted,
           |  CAST(len(regexp_extract_all(props, '$piiPattern')) AS BIGINT) AS n_hits
           |FROM events
           |ORDER BY event_id""".stripMargin),
    (spark, dir) => {
      Tables.events(spark, dir)
        .select(
          col("event_id"),
          regexp_replace(col("props"), piiPattern, "<PII>").as("redacted"),
          regexp_count(col("props"), lit(piiPattern)).cast("long").as("n_hits"))
        .orderBy("event_id")
    })


  /** Sequence packing (the GPT-style concat-and-chunk pass): documents
    * are concatenated per source in deterministic doc_id order and cut
    * into 512-token training sequences; each doc reports the sequence
    * span it lands in and its offset in the first one. One window
    * cumsum per source partition — at 100 TB each source packs
    * independently (partition-parallel), and the running sum is the
    * only stateful step. */
  val samplePack = QueryDef(
    "sample_pack",
    Some("""WITH t AS (
           |  SELECT doc_id, source, len(list_filter(string_split(text,' '), w -> length(w)>0)) AS n_tok
           |  FROM documents),
           |c AS (SELECT doc_id, source, n_tok,
           |  SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM t WHERE n_tok > 0)
           |SELECT source, doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           |  CAST((cum - n_tok) // 512 AS BIGINT) AS seq_start,
           |  CAST((cum - 1) // 512 AS BIGINT) AS seq_end,
           |  CAST((cum - n_tok) % 512 AS BIGINT) AS offset_in_seq
           |FROM c
           |ORDER BY source, doc_id""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(filter(split(col("text"), " "), x => length(x) > 0)).cast("long").as("n_tok"))
        .filter(col("n_tok") > 0)
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("source"), col("doc_id"), col("n_tok"),
          // cum and n_tok are positive, so div == floor division here
          expr("(cum - n_tok) div 512").as("seq_start"),
          expr("(cum - 1) div 512").as("seq_end"),
          ((col("cum") - col("n_tok")) % 512).as("offset_in_seq"))
        .orderBy("source", "doc_id")
    })

  /** Temperature-scaled source mixing (the multilingual-corpus
    * sampling rule: p_source ∝ n^α with α = 1/2, which up-weights
    * small sources relative to proportional sampling). Kept integer-
    * exact across engines: the weight is floor(sqrt(n)) (IEEE sqrt of
    * a BIGINT is correctly rounded in both engines, floor makes it an
    * integer), the quota is an integer floor-division of the 200-doc
    * target, and rows are chosen per source in content-hash order (the
    * same deterministic no-RNG device as sample_split/stratified). At
    * 100 TB the count and quota relations are source-cardinality
    * (broadcast); the only per-row work is the hash rank inside each
    * source partition. */
  val sampleMix = QueryDef(
    "sample_mix",
    Some("""WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
           |w AS (SELECT source, n, CAST(floor(sqrt(n)) AS BIGINT) AS sw FROM cnt),
           |q AS (SELECT source, n, sw,
           |        (200 * sw) // (SELECT SUM(sw) FROM w) AS quota
           |      FROM w),
           |sel AS (SELECT d.source, d.doc_id,
           |          ROW_NUMBER() OVER (PARTITION BY d.source
           |                             ORDER BY md5(d.text), d.doc_id) AS rn
           |        FROM documents d)
           |SELECT s.source, s.doc_id
           |FROM sel s JOIN q ON q.source = s.source
           |WHERE s.rn <= q.quota
           |ORDER BY s.source, s.doc_id""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.table(spark, dir, "documents")
      val cnt = docs.groupBy("source").agg(count(lit(1)).as("n"))
        .withColumn("sw", expr("CAST(floor(sqrt(n)) AS BIGINT)"))
      val totalSw = cnt.agg(sum(col("sw")).as("total_sw"))
      // both relations are source-cardinality → broadcast; the quota
      // join adds no shuffle to the per-source rank
      val quota = cnt.crossJoin(broadcast(totalSw))
        .select(col("source").as("q_source"),
          expr("(200 * sw) div total_sw").as("quota"))
      // hash computed map-side, text dropped BEFORE the rank shuffle
      // (sample_stratified's narrow-row discipline)
      val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      docs.select(col("source"), col("doc_id"), md5(col("text")).as("h"))
        .withColumn("rn", row_number().over(w))
        .join(broadcast(quota), col("q_source") === col("source"))
        .filter(col("rn") <= col("quota"))
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    })

  /** Token-budget selection: walk the corpus in content-hash order
    * (deterministic shuffle) and keep documents until 20% of the total
    * token mass is taken; report what the budget bought per source.
    * The budget test is multiplied out on BIGINT token counts
    * (cum·5 ≤ total) — no ratio, no float, so the cut point is
    * identical in both engines.
    *
    * The running sum is TWO-PHASE, never a global single-task sort:
    * the hash walk is range-bucketed by the first two hex chars of the
    * content hash (256 buckets, order-aligned with the (h, doc_id)
    * walk since lowercase hex is lexicographic), phase 1 computes
    * partition-local running sums per bucket across every core, and
    * phase 2 reconstructs the global prefix by adding each bucket's
    * offset — the ≤256 bucket subtotals joined triangle-wise
    * (broadcast, no Window at all on that side). At 10⁹ docs the old
    * one-reducer `Window.orderBy` plan sorted a billion metadata rows
    * on one task; this shape keeps the per-task work at N/256 and is
    * the textbook distributed prefix sum. PlanSpec pins the invariant:
    * no unpartitioned Window in the final plan. Bucket fan-out is a
    * constant here; at a larger cluster widen to 3 hex chars (4096
    * buckets) — the triangle join stays broadcast-sized. */
  val sampleBudget = QueryDef(
    "sample_budget",
    Some("""WITH tk AS (
           |  SELECT doc_id, source,
           |    CAST(len(list_filter(string_split(text,' '), x -> length(x)>0)) AS BIGINT) AS n_tok,
           |    md5(text) AS h
           |  FROM documents),
           |c AS (SELECT *,
           |  SUM(n_tok) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum
           |  FROM tk),
           |t AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total FROM tk)
           |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
           |FROM c CROSS JOIN t
           |WHERE cum * 5 <= total
           |GROUP BY source
           |ORDER BY source""".stripMargin),
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.Materialize.Ops
      // corpus-sized METADATA (id, source, token count, hash — no
      // text), referenced by three branches below: materialize once so
      // the text scan + tokenize never re-runs
      val tk = Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(filter(split(col("text"), " "), x => length(x) > 0)).cast("long").as("n_tok"),
          md5(col("text")).as("h"))
        .withColumn("bk", substring(col("h"), 1, 2))
        .materialized
      val total = tk.agg(sum(col("n_tok")).cast("long").as("total"))
      // phase 1: per-bucket local running sums — the corpus-sized work,
      // spread across all cores by the 256-way bucket shuffle
      val wLocal = Window.partitionBy("bk").orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // phase 2: each bucket's global prefix offset = sum of the
      // subtotals of every EARLIER bucket — ≤256 rows, triangle join,
      // broadcast; deliberately not a Window so the whole plan is free
      // of unpartitioned sorts
      val totals = tk.groupBy("bk").agg(sum(col("n_tok")).as("bk_tok"))
      val offsets = totals.as("a")
        .join(broadcast(totals.as("b")), col("b.bk") < col("a.bk"), "left")
        .groupBy(col("a.bk"))
        .agg(coalesce(sum(col("b.bk_tok")), lit(0L)).as("offset"))
        .select(col("bk").as("o_bk"), col("offset"))
      tk.withColumn("local_cum", sum(col("n_tok")).over(wLocal))
        .join(broadcast(offsets), col("o_bk") === col("bk"))
        .withColumn("cum", col("local_cum") + col("offset"))
        .crossJoin(broadcast(total))
        .filter(col("cum") * 5 <= col("total"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("n_tokens"))
        .orderBy("source")
    })

  val defs: Seq[QueryDef] = Seq(
    textLangid, textQuality, textTokens, textFingerprint, textClean,
    textChunk, sampleSplit, sampleStratified, textRepetition,
    textRarityScore, textQualityModel, textPiiRedact, samplePack,
    sampleMix, sampleBudget)
}
