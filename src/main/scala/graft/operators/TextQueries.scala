package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, quality scoring, language ID,
  * fingerprinting, n-gram profiling. The reference has only per-message
  * string ops (stringmatcher/concatenator, SURVEY §2.1 #7-9); this is
  * the corpus-scale generalization the north star asks for.
  *
  * Scale design: every query is a single scan → narrow projection →
  * (optionally) one explode + one hash-aggregate. Explodes multiply
  * rows ~|tokens| per doc, but partial aggregation collapses them
  * map-side before any shuffle; nothing here collects to the driver.
  * All string math is codegen'd built-ins — no UDFs on the hot path.
  */
object TextQueries {

  /** Whitespace tokens of the (already lowercase) document text. */
  private def toks(c: Column): Column = split(trim(c), "\\s+")

  /** token counting (BPE-ish regex vs whitespace): whitespace token
    * count, regex word count, distinct-word count, char count. */
  private def t01(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(toks(col("text"))).cast(LongType).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0)))
          .cast(LongType).as("re_tokens"),
        size(array_distinct(toks(col("text")))).cast(LongType).as("vocab"),
        length(col("text")).cast(LongType).as("chars"))
      .orderBy(col("doc_id"))

  private val t01Sql =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS re_tokens,
      |  CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS vocab,
      |  CAST(length(text) AS BIGINT) AS chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** quality scoring (length / punctuation / stopword / repetition
    * ratios). Ratios are doubles of exact integer counts → bit-exact
    * across engines. Composite score = deterministic double formula. */
  private def t02(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val nTok = size(t).cast(DoubleType)
    val nChar = length(col("text")).cast(DoubleType)
    val stop = lit(Array("the", "a", "of", "and", "to", "in", "is", "on"))
    val nStop = size(filter(t, x => array_contains(stop, x))).cast(DoubleType)
    val nPunct = (length(col("text")) -
      length(regexp_replace(col("text"), "[^a-z0-9\\s]", ""))).cast(DoubleType)
    val nUniq = size(array_distinct(t)).cast(DoubleType)
    Tables.documents(s, d)
      .select(col("doc_id"),
        (nChar / nTok).as("mean_tok_len"),
        (nStop / nTok).as("stop_ratio"),
        (nPunct / nChar).as("punct_ratio"),
        (nUniq / nTok).as("uniq_ratio"),
        ((nStop / nTok) * 2.0 + (nUniq / nTok) - (nPunct / nChar) * 5.0)
          .as("quality"))
      .orderBy(col("doc_id"))
  }

  private val t02Sql =
    """WITH t AS (SELECT doc_id,
      |  CAST(length(text) AS DOUBLE) AS n_char,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tok,
      |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |    x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS DOUBLE) AS n_stop,
      |  CAST(length(text) - length(regexp_replace(text, '[^a-z0-9\s]', '', 'g')) AS DOUBLE) AS n_punct,
      |  CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE) AS n_uniq
      |FROM documents)
      |SELECT doc_id,
      |  n_char / n_tok AS mean_tok_len,
      |  n_stop / n_tok AS stop_ratio,
      |  n_punct / n_char AS punct_ratio,
      |  n_uniq / n_tok AS uniq_ratio,
      |  (n_stop / n_tok) * 2.0 + (n_uniq / n_tok) - (n_punct / n_char) * 5.0 AS quality
      |FROM t ORDER BY doc_id""".stripMargin

  /** language ID, n-gram/stopword heuristic: score each candidate
    * language by its marker-word hit count; argmax with deterministic
    * tie-break (en > de > fr by priority). Compared against the table's
    * `lang` label column. */
  private def t03(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    def hits(ws: Seq[String]) =
      size(filter(t, x => array_contains(lit(ws.toArray), x))).cast(LongType)
    val en = hits(Seq("the", "a", "of", "and", "to", "is"))
    val de = hits(Seq("der", "die", "das", "und", "ist", "ein"))
    val fr = hits(Seq("le", "la", "de", "et", "est", "un"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        en.as("s_en"), de.as("s_de"), fr.as("s_fr"),
        when(en >= de && en >= fr, "en")
          .when(de >= fr, "de").otherwise("fr").as("pred"))
      .withColumn("correct", (col("pred") === col("lang")).cast(LongType))
      .orderBy(col("doc_id"))
  }

  private val t03Sql =
    """WITH t AS (SELECT doc_id, lang,
      |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |    x -> list_contains(['the','a','of','and','to','is'], x))) AS BIGINT) AS s_en,
      |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |    x -> list_contains(['der','die','das','und','ist','ein'], x))) AS BIGINT) AS s_de,
      |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
      |    x -> list_contains(['le','la','de','et','est','un'], x))) AS BIGINT) AS s_fr
      |FROM documents)
      |SELECT doc_id, lang, s_en, s_de, s_fr,
      |  CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
      |       WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred,
      |  CAST(CASE WHEN (CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
      |       WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END) = lang
      |       THEN 1 ELSE 0 END AS BIGINT) AS correct
      |FROM t ORDER BY doc_id""".stripMargin

  /** document fingerprinting: md5 content hash of normalized text plus
    * a shingle fingerprint (lexicographic-min md5 over word 5-gram
    * shingles — a 1-function minhash; rolling-hash analogue that is
    * deterministic across engines). */
  private def t04(s: SparkSession, d: String): DataFrame = {
    val norm = regexp_replace(trim(col("text")), "\\s+", " ")
    val t = toks(col("text"))
    val n = size(t)
    val shingles = transform(sequence(lit(0), n - lit(5)),
      i => array_join(slice(t, i + lit(1), lit(5)), " "))
    // md5-per-shingle as rows, not inside a transform lambda —
    // higher-order functions are interpreted (no codegen), so hashing
    // inside them costs ~3x; exploded rows keep md5 in codegen. The
    // content hash rides the same scan (computed once per doc before
    // the explode, recovered with first()) — one pass, no self-join.
    Tables.documents(s, d)
      .filter(n >= 5)
      .select(col("doc_id"), md5(norm.cast(BinaryType)).as("content_hash"),
        explode(shingles).as("sh"))
      .groupBy(col("doc_id"))
      .agg(first(col("content_hash")).as("content_hash"),
        min(md5(col("sh").cast(BinaryType))).as("shingle_min"))
      .select(col("doc_id"), col("content_hash"), col("shingle_min"))
      .orderBy(col("doc_id"))
  }

  private val t04Sql =
    """WITH t AS (SELECT doc_id,
      |    regexp_replace(trim(text), '\s+', ' ', 'g') AS norm,
      |    string_split_regex(trim(text), '\s+') AS w
      |  FROM documents)
      |SELECT doc_id, md5(norm) AS content_hash,
      |  list_min(list_transform(generate_series(1, len(w) - 4),
      |    i -> md5(array_to_string(w[i:i+4], ' ')))) AS shingle_min
      |FROM t WHERE len(w) >= 5 ORDER BY doc_id""".stripMargin

  /** corpus n-gram profile: explode word 3-grams, count corpus-wide,
    * top 50 by frequency. The canonical explode → map-side partial agg
    * → shuffle |ngrams| shape that scales linearly. */
  private def t05(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val grams = transform(sequence(lit(0), size(t) - lit(3)),
      i => array_join(slice(t, i + lit(1), lit(3)), " "))
    Tables.documents(s, d)
      .filter(size(t) >= 3)
      .select(explode(grams).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(50)
  }

  private val t05Sql =
    """SELECT ngram, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
      |  SELECT unnest(list_transform(generate_series(1, len(w) - 2),
      |    i -> array_to_string(w[i:i+2], ' '))) AS ngram
      |  FROM (SELECT string_split_regex(trim(text), '\s+') AS w
      |        FROM documents) WHERE len(w) >= 3)
      |GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 50""".stripMargin

  /** sentence splitter (the TTS front end's max-length word-boundary
    * splits, /root/reference/streamtasks/system/tasks/inference/
    * fastspeech2tts.py:20-34): 1→N chunking of each document into
    * ≤10-word sentences at word boundaries — the generator-tier
    * (flatMap) of the functional-task surface (SURVEY §2.6). */
  private def t06(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val n = size(t)
    Tables.documents(s, d)
      .select(col("doc_id"), t.as("w"), n.as("n"))
      .select(col("doc_id"),
        explode(sequence(lit(0L), ((col("n") - 1) / 10).cast(LongType))).as("sent"),
        col("w"))
      .select(col("doc_id"), col("sent"),
        array_join(slice(col("w"), (col("sent") * 10 + 1).cast(IntegerType), lit(10)), " ")
          .as("sentence"))
      .withColumn("n_words",
        size(split(col("sentence"), " ")).cast(LongType))
      .orderBy(col("doc_id"), col("sent"))
  }

  private val t06Sql =
    """SELECT doc_id, sent,
      |  array_to_string(w[(sent*10+1):(sent*10+10)], ' ') AS sentence,
      |  CAST(len(w[(sent*10+1):(sent*10+10)]) AS BIGINT) AS n_words
      |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
      |        unnest(generate_series(0, (len(string_split_regex(trim(text), '\s+')) - 1) // 10)) AS sent
      |      FROM documents)
      |ORDER BY doc_id, sent""".stripMargin

  /** Repetition filtering (the Gopher/MassiveText quality rule family):
    * per document, the duplicate-2-gram fraction (occurrences beyond
    * each gram's first, over total 2-grams) and the top gram's share —
    * boilerplate and looping generations score high and get filtered
    * before training. One explode + one (doc, gram) hash-aggregate +
    * one per-doc aggregate; ratios as exact DECIMAL-derived doubles. */
  private def t07(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    val grams = Tables.documents(s, d)
      .filter(size(t) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(t) - lit(2)),
          i => array_join(slice(t, i + lit(1), lit(2)), " "))).as("g"))
    val perGram = grams.groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
    perGram.groupBy(col("doc_id"))
      .agg(sum(col("c")).cast(LongType).as("n_grams"),
        (sum(col("c")) - count(lit(1))).cast(LongType).as("dup_grams"),
        max(col("c")).cast(LongType).as("top_gram"))
      .withColumn("dup_ratio",
        col("dup_grams").cast(DoubleType) / col("n_grams"))
      .withColumn("top_share",
        col("top_gram").cast(DoubleType) / col("n_grams"))
      .select(col("doc_id"), col("n_grams"), col("dup_grams"),
        col("top_gram"), col("dup_ratio"), col("top_share"))
      .orderBy(col("doc_id"))
  }

  private val t07Sql =
    """WITH docs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |              FROM documents),
      |grams AS (SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(w) - 1),
      |      i -> array_to_string(w[i:i+1], ' '))) AS g
      |  FROM docs WHERE len(w) >= 2),
      |pg AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g)
      |SELECT doc_id,
      |  CAST(sum(c) AS BIGINT) AS n_grams,
      |  CAST(sum(c) - count(*) AS BIGINT) AS dup_grams,
      |  CAST(max(c) AS BIGINT) AS top_gram,
      |  CAST(sum(c) - count(*) AS DOUBLE) / sum(c) AS dup_ratio,
      |  CAST(max(c) AS DOUBLE) / sum(c) AS top_share
      |FROM pg GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Domain mixing (the sampling step of every multi-source training
    * mix): downsample each source to the smallest source's token
    * budget with a DETERMINISTIC per-doc Bernoulli draw — u(doc) =
    * 40-bit md5 of the doc id, kept iff u·tok_source < minTok·2^40
    * (exact integer compare, identical in both engines; no RNG, so
    * the sample is reproducible and shard-stable at any scale).
    * Emits the per-source before/after budget audit. */
  private def t08(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast(LongType).as("tok"))
    val perSrc = docs.groupBy(col("source"))
      .agg(sum(col("tok")).as("tok_src"))
    val minTok = perSrc.agg(min(col("tok_src")).as("min_tok"))
    docs
      .join(broadcast(perSrc), "source")
      .crossJoin(broadcast(minTok)) // 1-row budget bound
      .withColumn("u",
        conv(substring(md5(col("doc_id").cast(StringType)), 1, 10), 16, 10)
          .cast(LongType))
      // 128-bit exact compare (Spark DECIMAL(38,0) ≡ DuckDB HUGEINT):
      // u·tok_src overflows Long once a source exceeds ~2^23 tokens
      // (u is 40-bit), and Spark would wrap silently where DuckDB
      // raises — decimal keeps both engines exact at any corpus size.
      .withColumn("kept",
        col("u").cast(DecimalType(38, 0)) * col("tok_src") <
          col("min_tok").cast(DecimalType(38, 0)) * lit(1099511627776L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).cast(LongType).as("n_kept"),
        sum(col("tok")).cast(LongType).as("tok_total"),
        sum(when(col("kept"), col("tok")).otherwise(0L)).cast(LongType)
          .as("tok_kept"))
      .orderBy(col("source"))
  }

  private val t08Sql =
    """WITH docs AS (SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok
      |  FROM documents),
      |ps AS (SELECT source, sum(tok) AS tok_src FROM docs GROUP BY source),
      |mn AS (SELECT min(tok_src) AS min_tok FROM ps),
      |k AS (SELECT d.source, d.tok,
      |    CAST(CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 10)) AS BIGINT) AS HUGEINT)
      |      * ps.tok_src < CAST(mn.min_tok AS HUGEINT) * 1099511627776 AS kept
      |  FROM docs d JOIN ps USING (source), mn)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(sum(tok) AS BIGINT) AS tok_total,
      |  CAST(sum(CASE WHEN kept THEN tok ELSE 0 END) AS BIGINT) AS tok_kept
      |FROM k GROUP BY source ORDER BY source""".stripMargin

  /** t09: the llama.cpp chat rolling context (SURVEY §2.4 #36,
    * inference/llamacppchat.py:49-77): each message appends to a
    * per-conversation context; on overflow the OLDEST messages are
    * evicted until the token budget L=512 fits. With positive token
    * counts and cumsum S, the surviving suffix starts at the minimal
    * j with S_i − S_{j−1} ≤ L, so (ModelCheckSpec proves this equals
    * the sequential fold):
    *   evicted = #{m < i : S_m ≤ S_i − L − 1} + [S_i ≥ L+1]   (the
    *     bracket is the virtual S_0 = 0), a RANGE frame ending L+1
    *     PRECEDING on S;
    *   ctx_tok = S_i − S_{j*−1} = S_i − min(S over [S_i − L, S_i])
    *     when eviction happened, else S_i.
    * No sequential state; partitioned by conversation (scale: no
    * cross-conversation traffic, fully codegen'd). Message tokens are
    * capped (≤120) below L, so the reference's keep-newest guard
    * never binds. */
  private def t09(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = 512L
    val w = Window.partitionBy(col("conv"))
      .orderBy(col("ts_ms"), col("event_id"))
    val msgs = Tables.eventsMs(s, d)
      .filter(col("event_type") === "click")
      .select((col("user_id") % 8).as("conv"), col("ts_ms"),
        col("event_id"),
        (abs(floor(col("value") * 37).cast(LongType)) % 120 + 1).as("tok"))
      .withColumn("k", row_number().over(w).cast(LongType) - 1)
      .withColumn("s_tok", sum(col("tok")).over(w))
    val wS = Window.partitionBy(col("conv")).orderBy(col("s_tok"))
    val wLt = wS.rangeBetween(Window.unboundedPreceding, -(L + 1))
    val wIn = wS.rangeBetween(-L, Window.currentRow)
    msgs
      .withColumn("ctx_msgs",
        col("k") + 1 - count(lit(1)).over(wLt) -
          when(col("s_tok") >= L + 1, 1L).otherwise(0L))
      .withColumn("ctx_tok",
        when(col("s_tok") <= L, col("s_tok"))
          .otherwise(col("s_tok") - min(col("s_tok")).over(wIn)))
      .select(col("conv"), col("k"), col("tok"), col("s_tok"),
        col("ctx_msgs"), col("ctx_tok"))
      .orderBy(col("conv"), col("k"))
  }

  private val t09Sql =
    """WITH e AS (SELECT user_id % 8 AS conv, epoch_ms(ts) AS ts_ms,
      |    event_id,
      |    abs(CAST(floor(value * 37) AS BIGINT)) % 120 + 1 AS tok
      |  FROM events WHERE event_type = 'click'),
      |m AS (SELECT conv, tok,
      |    CAST(row_number() OVER w - 1 AS BIGINT) AS k,
      |    CAST(sum(tok) OVER w AS BIGINT) AS s_tok
      |  FROM e WINDOW w AS (PARTITION BY conv ORDER BY ts_ms, event_id))
      |SELECT conv, k, tok, s_tok,
      |  CAST(k + 1 - (count(*) OVER wlt)
      |    - (CASE WHEN s_tok >= 513 THEN 1 ELSE 0 END) AS BIGINT) AS ctx_msgs,
      |  CAST(CASE WHEN s_tok <= 512 THEN s_tok
      |       ELSE s_tok - min(s_tok) OVER win END AS BIGINT) AS ctx_tok
      |FROM m
      |WINDOW wlt AS (PARTITION BY conv ORDER BY s_tok
      |    RANGE BETWEEN UNBOUNDED PRECEDING AND 513 PRECEDING),
      |  win AS (PARTITION BY conv ORDER BY s_tok
      |    RANGE BETWEEN 512 PRECEDING AND CURRENT ROW)
      |ORDER BY conv, k""".stripMargin

  /** t10: sequence packing — the concat-and-chunk step that turns a
    * document stream into fixed-length (256-token) training sequences
    * (the GPT-style packing every pretraining pipeline runs after
    * dedup/mixing): documents are concatenated per source in doc_id
    * order, and each document lands in chunks floor(start/256) ..
    * floor((end−1)/256) of its source's token stream. Emits per-chunk
    * fill stats (n_docs crossing it, tokens contributed, doc span).
    *
    * Scale: the cumsum windows are partitioned BY SOURCE (a pipeline
    * packs per shard — a global total order would serialize); the
    * chunk explode adds ~tok/256 rows per doc; the per-chunk agg is
    * one map-side-combined shuffle keyed (source, chunk). */
  private def t10(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast(LongType).as("tok"))
      .filter(col("tok") >= 1)
      .withColumn("end", sum(col("tok")).over(w))
      .withColumn("start", col("end") - col("tok"))
      .withColumn("first_chunk", expr("start div 256"))
      .withColumn("last_chunk", expr("(`end` - 1) div 256"))
    docs
      .select(col("source"), col("doc_id"), col("start"), col("end"),
        explode(sequence(col("first_chunk"), col("last_chunk"))).as("chunk"))
      .groupBy(col("source"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("end"), (col("chunk") + 1) * 256) -
          greatest(col("start"), col("chunk") * 256)).as("tok_fill"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("chunk"))
  }

  private val t10Sql =
    """WITH docs AS (SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok
      |  FROM documents),
      |c AS (SELECT doc_id, source, tok,
      |    CAST(sum(tok) OVER w AS BIGINT) AS "end",
      |    CAST(sum(tok) OVER w - tok AS BIGINT) AS start
      |  FROM docs WHERE tok >= 1
      |  WINDOW w AS (PARTITION BY source ORDER BY doc_id)),
      |ex AS (SELECT source, doc_id, start, "end",
      |    unnest(generate_series(start // 256, ("end" - 1) // 256)) AS chunk
      |  FROM c)
      |SELECT source, chunk,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(least("end", (chunk + 1) * 256)
      |    - greatest(start, chunk * 256)) AS BIGINT) AS tok_fill,
      |  min(doc_id) AS first_doc,
      |  max(doc_id) AS last_doc
      |FROM ex GROUP BY source, chunk ORDER BY source, chunk""".stripMargin

  /** t11: PII detection + redaction audit — the scrubbing pass every
    * pretraining pipeline runs before the data leaves quarantine. The
    * synthetic corpus carries no PII, so deterministic PII-shaped
    * spans (emails, phone-like numbers) are first woven in from doc
    * ids — the same synthesize-then-operate pattern as the media
    * queries — then counted and redacted with patterns chosen to mean
    * the same thing in Java regex and RE2. Emits per-doc match counts
    * and the pre/post redaction lengths (the audit a scrub job logs).
    * Scale: stateless scan projection, fully parallel, no shuffle
    * until the final sort. */
  private def t11(s: SparkSession, d: String): DataFrame = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "\\+1-[0-9]+"
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com"),
      when(col("doc_id") % 3 === 0, lit(" cc admin@example.org"))
        .otherwise(lit("")),
      lit(" call +1-"), (col("doc_id") * 7) % 10000,
      when(col("doc_id") % 5 === 0,
        concat(lit(" and +1-"), col("doc_id") % 997)).otherwise(lit("")))
    Tables.documents(s, d)
      .select(col("doc_id"), aug.as("aug"))
      .select(col("doc_id"),
        regexp_count(col("aug"), lit(emailPat))
          .cast(LongType).as("n_email"),
        regexp_count(col("aug"), lit(phonePat))
          .cast(LongType).as("n_phone"),
        regexp_count(col("aug"), lit("[0-9]+"))
          .cast(LongType).as("n_digit_runs"),
        length(col("aug")).cast(LongType).as("len_orig"),
        length(regexp_replace(regexp_replace(col("aug"),
          emailPat, "[EMAIL]"), phonePat, "[PHONE]"))
          .cast(LongType).as("len_redacted"))
      .orderBy(col("doc_id"))
  }

  private val t11Sql =
    """WITH a AS (SELECT doc_id,
      |    text || ' contact user' || doc_id || '@example.com'
      |      || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@example.org' ELSE '' END
      |      || ' call +1-' || (doc_id * 7) % 10000
      |      || CASE WHEN doc_id % 5 = 0 THEN ' and +1-' || doc_id % 997 ELSE '' END
      |      AS aug
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
      |  CAST(len(regexp_extract_all(aug, '\+1-[0-9]+')) AS BIGINT) AS n_phone,
      |  CAST(len(regexp_extract_all(aug, '[0-9]+')) AS BIGINT) AS n_digit_runs,
      |  CAST(len(aug) AS BIGINT) AS len_orig,
      |  CAST(len(regexp_replace(regexp_replace(aug,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |    '\+1-[0-9]+', '[PHONE]', 'g')) AS BIGINT) AS len_redacted
      |FROM a ORDER BY doc_id""".stripMargin

  // ---- t12: deterministic corpus shuffle + shard assignment ----------------
  /** Reproducible global shuffle and sharding — the step that fixes a
    * training run's data order: each document's shuffle key is the md5
    * of (salt, doc_id), its shard is the top hash bits mod n_shards,
    * and its position is the rank of its key within the shard. Same
    * salt → byte-identical shard files on any cluster size; a new salt
    * is a fresh epoch-level reshuffle.
    *
    * Scale: ONE shuffle keyed by shard (the write path's partitioning
    * anyway) and a per-shard sort (the write path's sort) — no global
    * total order anywhere; shards are independent, so 100 TB shards in
    * parallel across all executors. md5 keys make the rank
    * deterministic without a tie-break. */
  private def t12(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nShards = 8
    val key = md5(concat(lit("epoch-0:"), col("doc_id")).cast(BinaryType))
    val shard = pmod(conv(substring(col("skey"), 1, 8), 16, 10)
      .cast(LongType), lit(nShards.toLong))
    Tables.documents(s, d)
      .select(col("doc_id"), key.as("skey"))
      .select(col("doc_id"), col("skey"), shard.as("shard"))
      .withColumn("pos", row_number()
        .over(Window.partitionBy(col("shard")).orderBy(col("skey")))
        .cast(LongType))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))
  }

  private val t12Sql =
    """WITH k AS (SELECT doc_id, md5('epoch-0:' || doc_id) AS skey
      |           FROM documents),
      |s AS (SELECT doc_id, skey,
      |        CAST(concat('0x', substr(skey, 1, 8)) AS BIGINT) % 8 AS shard
      |      FROM k)
      |SELECT doc_id, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey) AS BIGINT) AS pos
      |FROM s ORDER BY doc_id""".stripMargin

  // ---- t13: quality-filter funnel ------------------------------------------
  /** Per-document verdict of a chained quality-filter funnel — the
    * observability layer every corpus-cleaning pipeline needs: not
    * just "did the doc survive" but WHICH stage rejected it, so the
    * funnel report (groupBy first_fail over this result) attributes
    * corpus loss to individual filters. Stages, in pipeline order:
    * min_len (dl ≥ 30 tokens), max_len (dl ≤ 80), vocab_ratio
    * (distinct/total ≥ 0.35), repetition (most frequent token ≤ ⅛ of
    * the doc). All thresholds evaluate in EXACT integer arithmetic
    * (vocab·100 ≥ dl·35 instead of a float ratio) so both engines
    * agree bit-for-bit.
    *
    * Scale shape: one scan, zero shuffles — every stage is a
    * projection over the token array of the row (the top-token count
    * is array-local: max over distinct tokens of their in-doc count,
    * O(dl·vocab) per row, no explode). The funnel over 100 TB is
    * embarrassingly parallel; only the 5-row report aggregate
    * exchanges anything. */
  private def t13(s: SparkSession, d: String): DataFrame = {
    val w = toks(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(w).cast(LongType).as("dl"),
        size(array_distinct(w)).cast(LongType).as("vocab"),
        array_max(transform(array_distinct(w),
          t => size(filter(w, x => x === t)))).cast(LongType).as("max_tok"))
      .withColumn("first_fail",
        when(col("dl") < 30, lit("1_min_len"))
          .when(col("dl") > 80, lit("2_max_len"))
          .when(col("vocab") * 100 < col("dl") * 35, lit("3_vocab_ratio"))
          .when(col("max_tok") * 8 > col("dl"), lit("4_repetition"))
          .otherwise(lit("pass")))
      .orderBy(col("doc_id"))
  }

  private val t13Sql =
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |           FROM documents),
      |m AS (SELECT doc_id,
      |        CAST(len(w) AS BIGINT) AS dl,
      |        CAST(len(list_distinct(w)) AS BIGINT) AS vocab,
      |        CAST(list_max(list_transform(list_distinct(w),
      |          t -> len(list_filter(w, x -> x = t)))) AS BIGINT) AS max_tok
      |      FROM d)
      |SELECT doc_id, dl, vocab, max_tok,
      |  CASE WHEN dl < 30 THEN '1_min_len'
      |       WHEN dl > 80 THEN '2_max_len'
      |       WHEN vocab * 100 < dl * 35 THEN '3_vocab_ratio'
      |       WHEN max_tok * 8 > dl THEN '4_repetition'
      |       ELSE 'pass' END AS first_fail
      |FROM m ORDER BY doc_id""".stripMargin

  // ---- t14: stratified (per-source) deterministic sampling -----------------
  /** Per-stratum EXACT-QUOTA sampling — the data-mixing primitive a
    * training pipeline runs to up/down-weight sources (e.g. Pile/
    * RefinedWeb-style mixture weights): within each `source`, rank
    * documents by a salted content-independent hash (md5 of the salt +
    * doc_id — rerun-stable, shard-independent, order-independent) and
    * keep exactly ⌈n·w⌉ of the stratum's n docs, here with weights
    * w = (k%4+1)/4 ∈ {¼,½,¾,1} derived from the source index. Exact
    * quotas (not Bernoulli coin-flips) make the output size
    * deterministic — what a mixture spec actually promises — and the
    * quota arithmetic is pure integer ((n·(k%4+1)+3) div 4), so both
    * engines agree bit-for-bit.
    *
    * Scale shape: one shuffle keyed by stratum, rank via the stratum
    * window, no joins. For a stratum too large to rank in one task,
    * the production variant replaces row_number with an approximate
    * quantile cutoff on the same hash (select h ≤ q_w) — same
    * determinism, no per-stratum total order; at the driver SFs the
    * exact window IS the right plan. */
  private def t14(s: SparkSession, d: String): DataFrame = {
    val rk = conv(substring(md5(concat(lit("t14"),
      col("doc_id").cast(StringType)).cast(BinaryType)), 1, 14), 16, 10)
      .cast(LongType)
    // substr with no length bound, same parse as the oracle's
    // substr(source, 4) — a 2-arg substring caps nothing, so both
    // engines read the identical suffix whatever its digit count.
    val k = expr("CAST(substr(source, 4) AS BIGINT)")
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), rk.as("rk"), k.as("k"))
      .withColumn("sample_rank",
        row_number().over(wRank).cast(LongType))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("sample_rank") <=
        expr("(n * (k % 4 + 1) + 3) DIV 4"))
      .select(col("doc_id"), col("source"), col("sample_rank"))
      .orderBy(col("doc_id"))
  }

  private val t14Sql =
    """WITH d AS (SELECT doc_id, source,
      |    CAST(substr(source, 4) AS BIGINT) AS k,
      |    CAST(concat('0x', substr(md5(concat('t14', CAST(doc_id AS VARCHAR))), 1, 14))
      |      AS BIGINT) AS rk
      |  FROM documents),
      |r AS (SELECT doc_id, source, k, rk,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY rk, doc_id)
      |      AS BIGINT) AS sample_rank,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM d)
      |SELECT doc_id, source, sample_rank
      |FROM r WHERE sample_rank <= (n * (k % 4 + 1) + 3) // 4
      |ORDER BY doc_id""".stripMargin

  /** t15: the COMPOSED corpus-build pipeline — the four stages every
    * pretraining data run chains (quality filter → exact dedup →
    * stratified down-sample → sequence pack), in ONE declarative plan
    * with one oracle. Each stage reuses the exact semantics its
    * standalone query gates (t13's funnel predicates, d01's
    * normalized content key, t14's salted-hash rank at a fixed 60%
    * quota, t10's 256-token chunk packing), so the composition — the
    * thing production pipelines actually run — is what this query
    * adds to the gate.
    *
    * Scale: the corpus scans ONCE. Stage boundaries are two real
    * shuffles (content-key hash for the dup window, source hash for
    * the quota/pack windows — the three source-partitioned windows
    * share one exchange and differ only in sort), then the map-side-
    * combined (source, chunk) aggregate. No stage materializes the
    * corpus; filters narrow monotonically; at 100 TB this is scan →
    * 2 shuffles of the surviving fraction → packed-chunk stats. */
  private def t15(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = toks(col("text"))
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        md5(regexp_replace(trim(col("text")), "\\s+", " ")
          .cast(BinaryType)).as("content_key"),
        size(w).cast(LongType).as("dl"),
        size(array_distinct(w)).cast(LongType).as("vocab"),
        array_max(transform(array_distinct(w),
          t => size(filter(w, x => x === t)))).cast(LongType).as("max_tok"))
      .filter(col("dl") >= 30 && col("dl") <= 80 &&
        col("vocab") * 100 >= col("dl") * 35 &&
        col("max_tok") * 8 <= col("dl"))
    val wDup = Window.partitionBy(col("content_key")).orderBy(col("doc_id"))
    val deduped = scored
      .withColumn("dup_rank", row_number().over(wDup))
      .filter(col("dup_rank") === 1)
    val rk = conv(substring(md5(concat(lit("t15"),
      col("doc_id").cast(StringType)).cast(BinaryType)), 1, 14), 16, 10)
      .cast(LongType)
    val wRank = Window.partitionBy(col("source")).orderBy(col("rk"), col("doc_id"))
    val wAll = Window.partitionBy(col("source"))
    val sampled = deduped.withColumn("rk", rk)
      .withColumn("sample_rank", row_number().over(wRank).cast(LongType))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("sample_rank") * 5 <= col("n") * 3) // keep floor(0.6 n)
    val wPack = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    sampled
      .withColumn("end", sum(col("dl")).over(wPack))
      .withColumn("start", col("end") - col("dl"))
      .select(col("source"), col("doc_id"), col("start"), col("end"),
        explode(sequence(expr("start div 256"), expr("(`end` - 1) div 256")))
          .as("chunk"))
      .groupBy(col("source"), col("chunk"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("end"), (col("chunk") + 1) * 256) -
          greatest(col("start"), col("chunk") * 256)).as("tok_fill"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("chunk"))
  }

  private val t15Sql =
    """WITH w AS (SELECT doc_id, source,
      |    md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS content_key,
      |    string_split_regex(trim(text), '\s+') AS wl
      |  FROM documents),
      |m AS (SELECT doc_id, source, content_key,
      |    CAST(len(wl) AS BIGINT) AS dl,
      |    CAST(len(list_distinct(wl)) AS BIGINT) AS vocab,
      |    CAST(list_max(list_transform(list_distinct(wl),
      |      t -> len(list_filter(wl, x -> x = t)))) AS BIGINT) AS max_tok
      |  FROM w),
      |q AS (SELECT doc_id, source, content_key, dl FROM m
      |  WHERE dl >= 30 AND dl <= 80 AND vocab * 100 >= dl * 35
      |    AND max_tok * 8 <= dl),
      |dd AS (SELECT doc_id, source, dl FROM (
      |    SELECT q.*, row_number() OVER (PARTITION BY content_key
      |      ORDER BY doc_id) AS dup_rank FROM q)
      |  WHERE dup_rank = 1),
      |s AS (SELECT doc_id, source, dl,
      |    CAST(concat('0x', substr(md5(concat('t15', CAST(doc_id AS VARCHAR))), 1, 14))
      |      AS BIGINT) AS rk
      |  FROM dd),
      |r AS (SELECT doc_id, source, dl,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY rk, doc_id)
      |      AS BIGINT) AS sample_rank,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM s),
      |keep AS (SELECT doc_id, source, dl FROM r WHERE sample_rank * 5 <= n * 3),
      |c AS (SELECT doc_id, source, dl,
      |    CAST(sum(dl) OVER pw AS BIGINT) AS "end",
      |    CAST(sum(dl) OVER pw - dl AS BIGINT) AS start
      |  FROM keep WINDOW pw AS (PARTITION BY source ORDER BY doc_id)),
      |ex AS (SELECT source, doc_id, start, "end",
      |    unnest(generate_series(start // 256, ("end" - 1) // 256)) AS chunk
      |  FROM c)
      |SELECT source, chunk,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(least("end", (chunk + 1) * 256) - greatest(start, chunk * 256))
      |    AS BIGINT) AS tok_fill,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM ex GROUP BY source, chunk ORDER BY source, chunk""".stripMargin

  // ---- t16: per-language unigram-LM surprisal filter (CCNet shape) ---------
  /** The LM-based quality filter of CCNet (Wenzek et al. 2020): train
    * a unigram LM per LANGUAGE on the corpus, score every document's
    * mean token surprisal against its own language's model, and bucket
    * into head/middle/tail. Surprisal is quantized to INTEGER bits —
    * ibits(w) = floor(log₂(N_lang / c_w)) via length(bin(N div c)) − 1
    * — so the per-doc sum is exact 64-bit arithmetic on both engines
    * (a float ln would hash-diverge on summation order and libm
    * rounding; the integer-log2 keeps the filter's ranking power while
    * making it bit-reproducible, the property a shardable 100 TB
    * pipeline needs anyway).
    *
    * Scale shape: doc-level token counts collapse map-side before the
    * ONE corpus-wide shuffle keyed (lang, token); per-lang totals are
    * a 5-row broadcast; the score join reuses the (lang, token) key;
    * final per-doc agg shuffles (doc_id). Nothing driver-side, no
    * floats until the emitted mean (integer centibits). */
  private def t16(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val dc = docs
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("tk"))
      .groupBy(col("doc_id"), col("lang"), col("tk"))
      .agg(count(lit(1)).as("cnt"))
    val c = dc.groupBy(col("lang"), col("tk")).agg(sum(col("cnt")).as("c"))
    val n = c.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    val ibits = c.join(broadcast(n), "lang")
      .select(col("lang"), col("tk"),
        (length(bin(expr("n div c"))) - 1).cast(LongType).as("ibits"))
    dc.join(ibits, Seq("lang", "tk"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(col("cnt") * col("ibits")).as("surprisal_bits"))
      .select(col("doc_id"), col("lang"),
        col("n_tokens").cast(LongType).as("n_tokens"),
        col("surprisal_bits").cast(LongType).as("surprisal_bits"),
        expr("surprisal_bits * 100 div n_tokens").as("mean_centibits"))
      .withColumn("bucket",
        when(col("mean_centibits") < 412, "head")
          .when(col("mean_centibits") < 425, "middle")
          .otherwise("tail"))
      .orderBy(col("doc_id"))
  }

  private val t16Sql =
    """WITH tok AS (SELECT doc_id, lang,
      |    unnest(string_split_regex(trim(text), '\s+')) AS tk FROM documents),
      |dc AS (SELECT doc_id, lang, tk, count(*) AS cnt
      |       FROM tok GROUP BY doc_id, lang, tk),
      |c AS (SELECT lang, tk, sum(cnt) AS c FROM dc GROUP BY lang, tk),
      |n AS (SELECT lang, sum(c) AS n FROM c GROUP BY lang),
      |ib AS (SELECT c.lang, tk, CAST(len(bin(n // c)) - 1 AS BIGINT) AS ibits
      |       FROM c JOIN n USING (lang)),
      |d AS (SELECT doc_id, dc.lang AS lang, sum(cnt) AS n_tokens,
      |        sum(cnt * ibits) AS surprisal_bits
      |      FROM dc JOIN ib ON dc.lang = ib.lang AND dc.tk = ib.tk
      |      GROUP BY doc_id, dc.lang)
      |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(surprisal_bits AS BIGINT) AS surprisal_bits,
      |  CAST(surprisal_bits * 100 // n_tokens AS BIGINT) AS mean_centibits,
      |  CASE WHEN surprisal_bits * 100 // n_tokens < 412 THEN 'head'
      |       WHEN surprisal_bits * 100 // n_tokens < 425 THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM d ORDER BY doc_id""".stripMargin

  // ---- t17: distributed BPE tokenizer training -----------------------------
  /** Byte-pair-encoding merge training (Sennrich et al. 2016) as a
    * declarative plan — the tokenizer-training step of a data
    * pipeline, run on the word-frequency dictionary (the classic BPE
    * formulation, which is exactly what makes it distributable: state
    * is |vocab| rows, not the corpus).
    *
    * The greedy left-to-right merge pass — BPE's one genuinely
    * sequential step, where "a a a" under merge (a,a) must become
    * "aa a", not "a aa" — is expressed with NO window functions or
    * per-row loops: each symbol is encoded as \x01sym\x02, so the
    * merged pair's pattern \x01a\x02\x01b\x02 is self-delimiting and
    * a plain string `replace` (left-to-right, non-overlapping in both
    * engines by definition) IS the greedy BPE pass. Three unrolled
    * iterations: each is (pair explode → map-side-combined count →
    * 1-row argmax via max(struct) → broadcast → per-row replace).
    * Determinism: pair argmax tie-breaks by (freq, a, b) struct order
    * on both engines; all counts are exact 64-bit sums.
    *
    * Scale: per iteration ONE shuffle keyed (a,b) over the pair
    * counts; the dictionary itself is never reshuffled (narrow maps);
    * the argmax is an aggregate to one row, broadcast back. At 100 TB
    * the word dictionary is ~10⁸ rows — iterations cost 3 small
    * aggregations, not 3 corpus scans (the corpus is read once, for
    * the dictionary). */
  /** The trained dictionary after `iters` merges plus the per-iter
    * merge rows — shared by t17 (training artifact) and t20 (encode).
    * Returns (dict(word, freq, enc), merge-row frames). */
  private def bpeDictAndMerges(docs: DataFrame, iters: Int)
      : (DataFrame, Seq[DataFrame]) = {
    val S1 = "\u0001"; val S2 = "\u0002"
    val pairSchema = "array<struct<a:string,b:string>>"
    def syms(c: Column): Column =
      split(regexp_replace(c, s"^$S1|$S2$$", ""), s"$S2$S1")
    var cur = docs
      .select(explode(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("enc", regexp_replace(col("word"), "(.)", s"$S1$$1$S2"))
    val merges = Seq.newBuilder[DataFrame]
    for (it <- 1 to iters) {
      val pairs = cur.select(col("freq"), syms(col("enc")).as("s"))
        .select(col("freq"), explode(when(size(col("s")) >= 2,
          transform(sequence(lit(1), size(col("s")) - 1),
            i => struct(element_at(col("s"), i).as("a"),
              element_at(col("s"), i + 1).as("b"))))
          .otherwise(array().cast(pairSchema))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("pf"))
      val best = pairs
        .agg(max(struct(col("pf"), col("a"), col("b"))).as("m"))
        .select(col("m.pf").as("pf"), col("m.a").as("a"), col("m.b").as("b"))
      merges += best.select(lit("merge").as("kind"), lit(it.toLong).as("iter"),
        concat(col("a"), lit("+"), col("b")).as("sym"),
        col("pf").cast(LongType).as("freq"))
      cur = cur.crossJoin(broadcast(best)) // 1-row argmax frame
        .withColumn("enc", expr(
          s"replace(enc, concat('$S1', a, '$S2', '$S1', b, '$S2'), " +
            s"concat('$S1', a, b, '$S2'))"))
        .select(col("word"), col("freq"), col("enc"))
    }
    (cur, merges.result())
  }

  /** Symbol decode of the \u0001sym\u0002 encoding — shared t17/t20. */
  private def bpeSyms(c: Column): Column =
    split(regexp_replace(c, "^\u0001|\u0002$", ""), "\u0002\u0001")

  /** BPE training over any documents frame — exposed for BpeSpec's
    * crafted greedy-merge fixtures. */
  def bpeTrain(docs: DataFrame, iters: Int): DataFrame = {
    val (cur, merges) = bpeDictAndMerges(docs, iters)
    val vocab = cur
      .select(col("freq"), explode(bpeSyms(col("enc"))).as("sym"))
      .groupBy(col("sym")).agg(sum(col("freq")).as("freq"))
      .orderBy(col("freq").desc, col("sym")).limit(20)
      .select(lit("vocab").as("kind"), lit(0L).as("iter"), col("sym"),
        col("freq").cast(LongType).as("freq"))
    merges.reduce(_ union _).union(vocab)
      .orderBy(col("kind"), col("iter"), col("sym"))
  }

  private def t17(s: SparkSession, d: String): DataFrame =
    bpeTrain(Tables.documents(s, d), iters = 3)

  /** One BPE iteration's CTEs for the oracle: decode symbols, count
    * pairs, argmax via struct max, apply the self-delimiting replace. */
  private def bpeIterSql(k: Int): String = {
    val prev = s"w${k - 1}"
    s"""s$k AS (SELECT word, freq, enc,
       |  string_split(trim(enc, chr(1)||chr(2)), chr(2)||chr(1)) AS s
       |  FROM $prev),
       |p$k AS (SELECT s[i] AS a, s[i+1] AS b, sum(freq) AS pf
       |        FROM s$k, unnest(generate_series(1, len(s)-1)) AS u(i)
       |        GROUP BY 1, 2),
       |b$k AS (SELECT max(struct_pack(pf := pf, a := a, b := b)) AS m
       |        FROM p$k),
       |w$k AS (SELECT word, freq, replace(enc,
       |    chr(1)||(SELECT m.a FROM b$k)||chr(2)||
       |      chr(1)||(SELECT m.b FROM b$k)||chr(2),
       |    chr(1)||(SELECT m.a FROM b$k)||(SELECT m.b FROM b$k)||chr(2))
       |      AS enc FROM s$k)""".stripMargin
  }

  private val t17Sql =
    s"""WITH w0 AS (
       |  SELECT word, count(*) AS freq,
       |    chr(1) || array_to_string(list_transform(
       |      generate_series(1, len(word)), i -> word[i]),
       |      chr(2)||chr(1)) || chr(2) AS enc
       |  FROM (SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS word
       |        FROM documents)
       |  GROUP BY word),
       |${bpeIterSql(1)},
       |${bpeIterSql(2)},
       |${bpeIterSql(3)},
       |mg AS (
       |  SELECT 'merge' AS kind, 1 AS iter, m.a || '+' || m.b AS sym,
       |    m.pf AS freq FROM b1
       |  UNION ALL SELECT 'merge', 2, m.a || '+' || m.b, m.pf FROM b2
       |  UNION ALL SELECT 'merge', 3, m.a || '+' || m.b, m.pf FROM b3),
       |vc AS (
       |  SELECT 'vocab' AS kind, 0 AS iter, sym, freq FROM (
       |    SELECT sym, sum(freq) AS freq FROM (
       |      SELECT unnest(string_split(trim(enc, chr(1)||chr(2)),
       |        chr(2)||chr(1))) AS sym, freq FROM w3)
       |    GROUP BY sym ORDER BY freq DESC, sym LIMIT 20))
       |SELECT kind, CAST(iter AS BIGINT) AS iter, sym,
       |  CAST(freq AS BIGINT) AS freq
       |FROM (SELECT * FROM mg UNION ALL SELECT * FROM vc)
       |ORDER BY kind, iter, sym""".stripMargin

  // ---- t18: batch greedy decoding with an in-plan-trained bigram LM --------
  /** Batch LLM-style inference as ONE declarative plan: train a bigram
    * LM on the corpus (pair counts → per-prefix argmax continuation,
    * tie-break by (count, token) struct max), then GENERATE four
    * tokens greedily from every document's first token — 500 prompts
    * decoded in parallel, the batch-inference shape of a training-data
    * pipeline (scoring/synthesis over millions of prompts), with the
    * model itself produced by the same plan that consumes it. A prompt
    * whose current token has no observed continuation stops (inner
    * join drops it) — deterministic on both engines.
    *
    * Scale: the model is |vocab| rows (prev → best next); each decode
    * step is one equi-join keyed on the current token — Catalyst
    * broadcasts it at small scale, shuffles at vocab scale; prompts
    * never re-shuffle (the join key changes per step but the prompt
    * side is narrow: doc_id + context string). Four steps unrolled =
    * four joins, no iteration driver-side. */
  private def t18(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("w"))
    val big = docs
      .select(explode(when(size(col("w")) >= 2,
        transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("prev"),
            element_at(col("w"), i + 1).as("nxt"))))
        .otherwise(array().cast("array<struct<prev:string,nxt:string>>")))
        .as("p"))
      .groupBy(col("p.prev").as("prev"), col("p.nxt").as("nxt"))
      .agg(count(lit(1)).as("c"))
    val bm = big.groupBy(col("prev"))
      .agg(max(struct(col("c"), col("nxt"))).as("m"))
      .select(col("prev"), col("m.nxt").as("nxt"))
    var g = docs.filter(size(col("w")) >= 1)
      .select(col("doc_id"), element_at(col("w"), 1).as("ctx"),
        element_at(col("w"), 1).as("cur"))
    for (_ <- 1 to 4) {
      g = g.join(bm, g("cur") === bm("prev"))
        .select(col("doc_id"),
          concat(col("ctx"), lit(" "), col("nxt")).as("ctx"),
          col("nxt").as("cur"))
    }
    g.select(col("doc_id"), col("ctx").as("generated"))
      .orderBy(col("doc_id"))
  }

  private def t18StepSql(k: Int): String =
    s"""g$k AS (SELECT doc_id, ctx || ' ' || bm.nxt AS ctx, bm.nxt AS cur
       |        FROM g${k - 1} JOIN bm ON g${k - 1}.cur = bm.prev)""".stripMargin

  private val t18Sql =
    s"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |           FROM documents),
       |big AS (SELECT w[i] AS prev, w[i+1] AS nxt, count(*) AS c
       |        FROM w, unnest(generate_series(1, len(w)-1)) AS u(i)
       |        GROUP BY 1, 2),
       |bm AS (SELECT prev, m.nxt AS nxt FROM (
       |         SELECT prev, max(struct_pack(c := c, nxt := nxt)) AS m
       |         FROM big GROUP BY prev)),
       |g0 AS (SELECT doc_id, w[1] AS ctx, w[1] AS cur FROM w
       |       WHERE len(w) >= 1),
       |${t18StepSql(1)},
       |${t18StepSql(2)},
       |${t18StepSql(3)},
       |${t18StepSql(4)}
       |SELECT doc_id, ctx AS generated FROM g4 ORDER BY doc_id""".stripMargin

  // ---- t19: the modern pretraining-data pipeline, one plan -----------------
  /** The CCNet/FineWeb-shaped corpus build as ONE declarative plan,
    * composing this round's operators in the PUBLISHED stage order —
    * dedup before the LM filter (Wenzek et al. 2020 run paragraph
    * dedup, then lang-id, then the LM; FineWeb likewise filters after
    * dedup): (A) length gate → (B) exact dedup (content-key min-id
    * survivor) → (C) duplicated-SPAN scrub over the dedup survivors
    * (d13/d14 via [[DedupQueries.spanScrub]] — fully-duplicated docs
    * drop, partially-covered docs keep their cleaned token counts) →
    * (D) per-language unigram-LM surprisal filter trained on the
    * surviving corpus, keeping the bottom 2/3 per language by RANK
    * (CCNet's percentile cut; an absolute threshold is not
    * scale-invariant — amplified corpora shift every token's bits by
    * ~log2(replicas), and the first formulation's fixed 425-centibit
    * cut kept 0 of the ×10 corpus) → (E) pack the CLEANED token
    * counts into 256-token chunks per language. Output: the stage
    * funnel (doc counts per stage + total kept tokens) and per-chunk
    * fills. Stage order matters and is itself under the oracle: run
    * the other way, the tail-cut silently preempts the scrub (every
    * fully-duplicated doc in this corpus is high-surprisal).
    *
    * Scale: one documents scan feeds A–C (one content-key shuffle;
    * the scrub shuffles only duplicated window positions — d14's
    * shape); the LM join shuffles (lang, token) once over the scrub
    * survivors; packing is a per-lang running sum. Stage counts are
    * 1-row aggregates unioned in-plan — nothing collects.
    *
    * Materialization (round-15 optimization, guide §2.4 "remove
    * shuffles outright" applied to remove whole re-derivations): the
    * final union has 6 branches and Spark evaluates each branch's
    * lineage independently (the column-pruned exchanges differ per
    * branch, so ReuseExchange matches none of them) — measured as the
    * scan → tokenize → window-dedup → scrub chain running up to SIX
    * times, 47 s of task CPU for an 8.7 s query at sf0.1. The four
    * stage frontiers (dedup survivors qb, scrub spans, the doc-token
    * table dc, LM survivors qd) are now scope-checkpointed once and
    * every branch reads them — the same persisted-intermediate shape
    * a production corpus build writes between stages (d02's band
    * table precedent). `grp_n` (dup-group size) rides the dedup
    * window so stage A's pre-dedup count is Σ grp_n over qb — no
    * second corpus pass just for the funnel row. */
  private def t19(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = toks(col("text"))
    val qa = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        md5(regexp_replace(trim(col("text")), "\\s+", " ")
          .cast(BinaryType)).as("content_key"),
        size(w).cast(LongType).as("dl"))
      .filter(col("dl") >= 20)
    val wDup = Window.partitionBy(col("content_key")).orderBy(col("doc_id"))
    val wGrp = Window.partitionBy(col("content_key"))
    val qb = graft.Resources.checkpoint(
      qa.withColumn("dup_rank", row_number().over(wDup))
        .withColumn("grp_n", count(lit(1)).over(wGrp))
        .filter(col("dup_rank") === 1)
        .select(col("doc_id"), col("lang"), col("text"), col("dl"),
          col("grp_n")))
    val scrubbed = graft.Resources.checkpoint(
      DedupQueries.spanScrub(qb.select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("n_kept")))
    val qc = qb.join(scrubbed, "doc_id")
    val dc = graft.Resources.checkpoint(qc
      .select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("tk"))
      .groupBy(col("doc_id"), col("lang"), col("tk"))
      .agg(count(lit(1)).as("cnt")))
    val c = dc.groupBy(col("lang"), col("tk")).agg(sum(col("cnt")).as("c"))
    val n = c.groupBy(col("lang")).agg(sum(col("c")).as("n"))
    val ibits = c.join(broadcast(n), "lang")
      .select(col("lang"), col("tk"),
        (length(bin(expr("n div c"))) - 1).cast(LongType).as("ibits"))
    val wLm = Window.partitionBy(col("lang"))
      .orderBy(col("mc"), col("doc_id"))
    val wLmN = Window.partitionBy(col("lang"))
    val lmKeep = dc.join(ibits, Seq("lang", "tk"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).as("nt"), sum(col("cnt") * col("ibits")).as("sb"))
      .withColumn("mc", expr("sb * 100 div nt"))
      .withColumn("rk", row_number().over(wLm).cast(LongType))
      .withColumn("nl", count(lit(1)).over(wLmN))
      .filter(col("rk") * 3 <= col("nl") * 2)
      .select(col("doc_id"))
    // skinny LM-survivor frontier: its three readers (stage count,
    // kept-token sum, the pack window) need no text
    val qd = graft.Resources.checkpoint(qc.join(lmKeep, "doc_id")
      .select(col("doc_id"), col("lang"), col("dl"), col("n_kept")))
    val wPack = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    val pack = qd
      .withColumn("end", sum(col("n_kept")).over(wPack))
      .withColumn("start", col("end") - col("n_kept"))
      .select(col("lang"), col("start"), col("end"),
        explode(sequence(expr("start div 256"), expr("(`end` - 1) div 256")))
          .as("chunk"))
      .groupBy(col("lang"), col("chunk"))
      .agg(sum(least(col("end"), (col("chunk") + 1) * 256) -
        greatest(col("start"), col("chunk") * 256)).as("nn"))
      .select(lit("pack").as("kind"),
        concat(col("lang"), lit(":"), lpad(col("chunk").cast(StringType),
          4, "0")).as("key"),
        col("nn").cast(LongType).as("n"))
    def stage(df: DataFrame, name: String, cnt: Column = count(lit(1))) =
      df.agg(cnt.as("nn"))
        .select(lit("stage").as("kind"), lit(name).as("key"),
          col("nn").cast(LongType).as("n"))
    val tokensRow = qd
      .agg(coalesce(sum(col("n_kept")), lit(0L)).as("dk"))
      .select(lit("stage").as("kind"), lit("e_tokens_kept").as("key"),
        col("dk").cast(LongType).as("n"))
    // a_quality = |qa| = Σ dup-group sizes over the survivors;
    // both sums are 0, not NULL, on empty input, as in the oracle;
    // c_scrub = |qc| (the scrub join is 1:1 — scrubbed ⊆ qb by key)
    stage(qb, "a_quality", coalesce(sum(col("grp_n")), lit(0L)))
      .unionByName(stage(qb, "b_dedup"))
      .unionByName(stage(scrubbed, "c_scrub"))
      .unionByName(stage(qd, "d_lm"))
      .unionByName(tokensRow)
      .unionByName(pack)
      .orderBy(col("kind"), col("key"))
  }

  /** Oracle: the same five stages in SQL, same order — d14's
    * window-coverage CTEs over the dedup survivors (W=8, n_kept =
    * dl − |covered positions|), t16's LM CTEs over the scrub
    * survivors with the rank cut, t15's pack formula over cleaned
    * lengths. */
  private val t19Sql =
    """WITH qa AS (SELECT doc_id, lang, text,
      |    md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS content_key,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS dl
      |  FROM documents
      |  WHERE len(string_split_regex(trim(text), '\s+')) >= 20),
      |qb AS (SELECT doc_id, lang, text, dl FROM (
      |    SELECT qa.*, row_number() OVER (PARTITION BY content_key
      |      ORDER BY doc_id) AS dup_rank FROM qa) WHERE dup_rank = 1),
      |t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |      FROM qb),
      |win AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
      |          md5(array_to_string(w[i:i+7], ' ')) AS wh
      |        FROM t, unnest(generate_series(1, len(w) - 7)) AS s(i)
      |        WHERE len(w) >= 8),
      |dp AS (SELECT doc_id, pos FROM (
      |         SELECT doc_id, pos,
      |           min(doc_id) OVER (PARTITION BY wh)
      |             != max(doc_id) OVER (PARTITION BY wh) AS dup
      |         FROM win) WHERE dup),
      |cov AS (SELECT doc_id, count(DISTINCT pos + o) AS n_rm
      |        FROM dp, unnest(generate_series(0, 7)) AS s(o)
      |        GROUP BY doc_id),
      |qc AS (SELECT qb.doc_id, lang, text, dl,
      |         dl - coalesce(n_rm, 0) AS n_kept
      |       FROM qb LEFT JOIN cov ON qb.doc_id = cov.doc_id
      |       WHERE dl - coalesce(n_rm, 0) > 0),
      |tok AS (SELECT doc_id, lang,
      |    unnest(string_split_regex(trim(text), '\s+')) AS tk FROM qc),
      |dc AS (SELECT doc_id, lang, tk, count(*) AS cnt
      |       FROM tok GROUP BY doc_id, lang, tk),
      |c AS (SELECT lang, tk, sum(cnt) AS c FROM dc GROUP BY lang, tk),
      |n AS (SELECT lang, sum(c) AS n FROM c GROUP BY lang),
      |ib AS (SELECT c.lang, tk, CAST(len(bin(n // c)) - 1 AS BIGINT) AS ibits
      |       FROM c JOIN n USING (lang)),
      |lm AS (SELECT doc_id FROM (
      |    SELECT doc_id,
      |      CAST(row_number() OVER (PARTITION BY lang
      |        ORDER BY sb * 100 // nt, doc_id) AS BIGINT) AS rk,
      |      count(*) OVER (PARTITION BY lang) AS nl
      |    FROM (SELECT doc_id, dc.lang AS lang, sum(cnt) AS nt,
      |            sum(cnt * ibits) AS sb
      |          FROM dc JOIN ib ON dc.lang = ib.lang AND dc.tk = ib.tk
      |          GROUP BY doc_id, dc.lang))
      |    WHERE rk * 3 <= nl * 2),
      |qd AS (SELECT qc.* FROM qc JOIN lm USING (doc_id)),
      |pk AS (SELECT doc_id, lang, n_kept,
      |    CAST(sum(n_kept) OVER pw AS BIGINT) AS "end",
      |    CAST(sum(n_kept) OVER pw - n_kept AS BIGINT) AS start
      |  FROM qd WINDOW pw AS (PARTITION BY lang ORDER BY doc_id)),
      |ex AS (SELECT lang, start, "end",
      |    unnest(generate_series(start // 256, ("end" - 1) // 256)) AS chunk
      |  FROM pk),
      |pack AS (SELECT 'pack' AS kind,
      |    lang || ':' || lpad(CAST(chunk AS VARCHAR), 4, '0') AS key,
      |    CAST(sum(least("end", (chunk + 1) * 256)
      |      - greatest(start, chunk * 256)) AS BIGINT) AS n
      |  FROM ex GROUP BY lang, chunk),
      |stages AS (
      |  SELECT 'stage' AS kind, 'a_quality' AS key,
      |    CAST(count(*) AS BIGINT) AS n FROM qa
      |  UNION ALL SELECT 'stage', 'b_dedup', count(*) FROM qb
      |  UNION ALL SELECT 'stage', 'c_scrub', count(*) FROM qc
      |  UNION ALL SELECT 'stage', 'd_lm', count(*) FROM qd
      |  UNION ALL SELECT 'stage', 'e_tokens_kept',
      |    CAST(coalesce(sum(n_kept), 0) AS BIGINT) FROM qd)
      |SELECT kind, key, n FROM (
      |  SELECT * FROM stages UNION ALL SELECT * FROM pack)
      |ORDER BY kind, key""".stripMargin

  // ---- t20: BPE encode — the trained tokenizer applied to the corpus ------
  /** The inference side of t17: apply the 3 learned merges to every
    * document and report the per-doc BPE token count next to the raw
    * word count — the "how many tokens is my corpus under this
    * tokenizer" question every training pipeline answers before a
    * run. The encoded DICTIONARY (word → symbol count after merges)
    * is the join artifact: documents explode to words, the dict joins
    * by word (vocab-sized — broadcast at small scale, shuffle at
    * corpus scale), symbol counts sum per doc. Training and encoding
    * share one plan, like t18's train+decode.
    *
    * Scale: the dict is |vocab| rows; the doc-side explode collapses
    * to (doc_id, word, count) map-side before the one join. */
  private def t20(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (dict, _) = bpeDictAndMerges(docs, iters = 3)
    val wd = dict.select(col("word"),
      size(bpeSyms(col("enc"))).cast(LongType).as("n_syms"))
    docs.select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))
          .as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
      .join(wd, "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast(LongType).as("n_words"),
        sum(col("cnt") * col("n_syms")).cast(LongType).as("n_bpe"))
      .orderBy(col("doc_id"))
  }

  private val t20Sql =
    s"""WITH w0 AS (
       |  SELECT word, count(*) AS freq,
       |    chr(1) || array_to_string(list_transform(
       |      generate_series(1, len(word)), i -> word[i]),
       |      chr(2)||chr(1)) || chr(2) AS enc
       |  FROM (SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS word
       |        FROM documents)
       |  GROUP BY word),
       |${bpeIterSql(1)},
       |${bpeIterSql(2)},
       |${bpeIterSql(3)},
       |wd AS (SELECT word,
       |    CAST(len(string_split(trim(enc, chr(1)||chr(2)),
       |      chr(2)||chr(1))) AS BIGINT) AS n_syms FROM w3),
       |dw AS (SELECT doc_id, word, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]+')) AS word
       |    FROM documents) GROUP BY doc_id, word)
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
       |  CAST(sum(cnt * n_syms) AS BIGINT) AS n_bpe
       |FROM dw JOIN wd USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- t21: overlapping chunk windows (RAG / context chunking) ------------
  /** Sliding token-window chunking — the retrieval-side sibling of
    * t10's training-side packing: each document splits into windows of
    * W=16 tokens advancing by stride 12 (4-token overlap, so no query
    * span falls across a hard boundary), the shape every
    * RAG/embedding-index pipeline feeds its encoder. Emits per chunk
    * the token span and an md5 fingerprint of the chunk text (chunks
    * are re-derivable from (doc_id, start_tok), so the index stores
    * the span + fingerprint, not a second copy of the corpus).
    *
    * Scale: one scan, one explode of ~n_tok/stride rows per doc — no
    * shuffle at all until the output sort; the chunker is purely
    * row-local, so it parallelizes to any partition count. All slicing
    * is codegen'd built-ins (sequence/slice/array_join). */
  private val ChunkW = 16
  private val ChunkStride = 12

  private def t21(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), toks(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(sequence(lit(0), greatest(size(col("w")) - 1, lit(0)),
          lit(ChunkStride))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "start_tok")
      .select(col("doc_id"), col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("start_tok").cast(LongType).as("start_tok"),
        slice(col("w"), col("start_tok") + 1, lit(ChunkW)).as("cw"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("cw")).cast(LongType).as("n_tok"),
        md5(array_join(col("cw"), " ").cast(BinaryType)).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private val t21Sql =
    s"""WITH dw AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, w,
       |    unnest(generate_series(0, greatest(len(w) - 1, 0), $ChunkStride))
       |      AS start_tok
       |  FROM dw),
       |ch AS (
       |  SELECT doc_id, CAST(start_tok // $ChunkStride AS BIGINT) AS chunk_idx,
       |    CAST(start_tok AS BIGINT) AS start_tok,
       |    list_slice(w, start_tok + 1, start_tok + $ChunkW) AS cw
       |  FROM st)
       |SELECT doc_id, chunk_idx, start_tok,
       |  CAST(len(cw) AS BIGINT) AS n_tok,
       |  md5(array_to_string(cw, ' ')) AS chunk_fp
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  // ---- t22: DSIR importance-weighted data selection ------------------------
  /** Data Selection with Importance Resampling (Xie et al. 2023): score
    * every raw document by how target-domain-like its hashed-n-gram
    * distribution is — log p_target(x) − log p_raw(x) under bag-of-
    * hashed-bigrams unigram models — and keep the top fraction per
    * source. The target sample here is the English slice of the corpus
    * (in production: a Wikipedia/book sample); features are word
    * bigrams hashed into B=1024 buckets, which is what makes the model
    * CONSTANT-SIZE regardless of corpus vocabulary — the property that
    * lets the same plan run at 100 TB (the reference DSIR uses the
    * same trick at CC scale).
    *
    * Integer exactness (the t16 convention): per-bucket surprisal is
    * quantized to whole bits via floor(log₂(N div (c+1))) =
    * len(bin(N div (c+1)))−1 with add-1 smoothing, so the per-doc
    * importance weight is an exact 64-bit sum — bit-reproducible
    * across engines and shards, no float summation order anywhere.
    *
    * Scale shape: doc×bucket counts collapse map-side before ONE
    * shuffle keyed bucket (≤1024 keys) for each model; the two models
    * + totals are ≤1024-row broadcasts; scoring re-uses the doc×bucket
    * frame (narrow joins against broadcasts) and aggregates per doc;
    * the top-40% selection is a per-SOURCE window (the stratified form
    * that preserves the domain mix AND avoids a global sort). */
  private val DsirB = 1024

  /** md5-based feature-hash bucket shared by t22/t23: first 4 hex
    * chars → int, mod `b`. DuckDB equivalent:
    * CAST(concat('0x', substr(md5(x),1,4)) AS BIGINT) % b. */
  private[graft] def hashBucket(c: Column, b: Int): Column =
    conv(substring(md5(c.cast(BinaryType)), 1, 4), 16, 10)
      .cast(LongType) % b

  private def t22(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = toks(col("text"))
    val grams = transform(sequence(lit(0), size(t) - lit(2)),
      i => array_join(slice(t, i + lit(1), lit(2)), " "))
    // dc is consumed by BOTH the model branch and the scoring branch;
    // physical planning does NOT reuse the explode+md5 subtree across
    // them (measured: three Scan→Generate passes, ×100 decade linear
    // at 53.7 s), so materialize the feature frame ONCE — the
    // production shape anyway (feature extraction persists its output
    // before model fit + apply read it twice). The frame is compact:
    // ≤ |docs|·min(|doc|,B) rows of ids+counts, never the text.
    val dc = graft.Resources.checkpoint(Tables.documents(s, d)
      .filter(size(t) >= 2)
      .select(col("doc_id"), col("lang"), col("source"),
        explode(grams).as("g"))
      .select(col("doc_id"), col("lang"), col("source"),
        hashBucket(col("g"), DsirB).as("bucket"))
      .groupBy(col("doc_id"), col("lang"), col("source"), col("bucket"))
      .agg(count(lit(1)).as("cnt")))
    // both models in ONE pass over dc (raw + target-slice counts as
    // two aggregates of the same groupBy); dc's shuffle is then shared
    // by the model branch and the scoring branch via exchange reuse
    // instead of re-deriving the bigram explode per model
    val m = dc.groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("cr"),
        sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("ct"))
    val totals = m.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
      .withColumn("j", lit(1))
    val model = m
      .withColumn("j", lit(1)).join(broadcast(totals), "j")
      .select(col("bucket"),
        ((length(bin(expr("nr div (cr + 1)"))) - 1) -
         (length(bin(expr("nt div (ct + 1)"))) - 1))
          .cast(LongType).as("w"))
    val scored = dc.join(broadcast(model), "bucket")
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        sum(col("cnt") * col("w")).as("dsir_bits"))
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("dsir_bits").desc, col("doc_id"))
    val wAll = Window.partitionBy(col("source"))
    scored
      .withColumn("sample_rank", row_number().over(wRank).cast(LongType))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("sample_rank") * 5 <= col("n") * 2) // keep top 40%/source
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_bigrams").cast(LongType).as("n_bigrams"),
        col("dsir_bits").cast(LongType).as("dsir_bits"),
        col("sample_rank"))
      .orderBy(col("doc_id"))
  }

  private val t22Sql =
    s"""WITH w AS (SELECT doc_id, lang, source,
       |    string_split_regex(trim(text), '\\s+') AS wl FROM documents),
       |g AS (SELECT doc_id, lang, source,
       |    unnest(list_transform(generate_series(1, len(wl) - 1),
       |      i -> array_to_string(wl[i:i+1], ' '))) AS g
       |  FROM w WHERE len(wl) >= 2),
       |dc AS (SELECT doc_id, lang, source,
       |    CAST(concat('0x', substr(md5(g), 1, 4)) AS BIGINT) % $DsirB AS bucket,
       |    count(*) AS cnt
       |  FROM g GROUP BY ALL),
       |cr AS (SELECT bucket, sum(cnt) AS cr FROM dc GROUP BY bucket),
       |ct AS (SELECT bucket, sum(cnt) AS ct FROM dc WHERE lang = 'en'
       |       GROUP BY bucket),
       |tot AS (SELECT (SELECT sum(cr) FROM cr) AS nr,
       |               (SELECT sum(ct) FROM ct) AS nt),
       |model AS (SELECT bucket,
       |    (len(bin(nr // (cr + 1))) - 1) -
       |    (len(bin(nt // (coalesce(ct, 0) + 1))) - 1) AS w
       |  FROM cr LEFT JOIN ct USING (bucket), tot),
       |scored AS (SELECT doc_id, lang, source,
       |    CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       |    CAST(sum(cnt * w) AS BIGINT) AS dsir_bits
       |  FROM dc JOIN model USING (bucket)
       |  GROUP BY doc_id, lang, source),
       |r AS (SELECT *,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY dsir_bits DESC, doc_id) AS BIGINT) AS sample_rank,
       |    count(*) OVER (PARTITION BY source) AS n
       |  FROM scored)
       |SELECT doc_id, lang, source, n_bigrams, dsir_bits, sample_rank
       |FROM r WHERE sample_rank * 5 <= n * 2 ORDER BY doc_id""".stripMargin

  // ---- t23: trained Naive Bayes classifier (feature hashing) --------------
  /** The trained-quality-classifier stage of a pretraining pipeline
    * (GPT-3's WebText logistic filter; NB spam filtering is the
    * canonical form): a multinomial Naive Bayes detector TRAINED
    * IN-PLAN on a deterministic 75% split (md5(doc_id) hex prefix, the
    * d12 rule) and evaluated on the held-out 25% — the whole
    * train→broadcast→predict loop as one declarative plan, the same
    * in-plan-training shape as s04/s09's Lloyd steps.
    *
    * The task: detect documents that passed through a solicitation/
    * PII-injection pipeline (the t11 synthesize-then-operate pattern —
    * half the corpus, chosen by an independent md5 split, gets a
    * spam-shaped suffix woven from its doc id). The label is
    * constructed because the synthetic corpus has no natural
    * class-conditional signal (measured: all five `lang` values draw
    * from ONE uniform 31-word vocabulary, so language is information-
    * theoretically unlearnable from text) — but the LEARNING is real:
    * the model must discover the discriminative hashed buckets from
    * training counts alone, per-doc-unique address tokens hash to
    * ~uniform noise it must ignore, and held-out accuracy >> the 50%
    * prior is in the gated output (the `correct` column), exactly the
    * train/eval loop a production filter runs.
    *
    * Features are unigrams hashed into B=4096 buckets (Weinberger et
    * al. 2009): the model is (classes × buckets) ≤ 20k rows — a
    * broadcast — NO MATTER how large the corpus vocabulary grows; this
    * is what makes "train on 100 TB" a constant-size reduce. Laplace
    * add-1 smoothing over the observed bucket set; buckets unseen in
    * training are skipped on both engines (the standard OOV rule,
    * deterministic because it is an inner join). Class-conditional
    * token surprisal and class priors are quantized to whole bits
    * (len(bin(N div (c+1)))−1, the t16/t22 convention), so every score
    * is an exact 64-bit integer and argmin(score, class) is
    * hash-stable across engines.
    *
    * Scale shape: training is ONE shuffle keyed (lang,bucket) with
    * map-side combine; the model/priors/class grid are broadcasts;
    * prediction is narrow joins + one per-doc aggregate; the argmin is
    * a 5-row-per-doc window. */
  private val NbB = 4096

  /** Integer log₂ in 1/32-bit units: MSB position + linear-interpolated
    * mantissa, q(x) = 32·msb(x) + (x·32 div 2^msb) − 32 — monotone,
    * exact 64-bit arithmetic, identical in Spark SQL and DuckDB (the
    * classic "log2 ≈ exponent + mantissa" approximation; max error
    * 0.086 bits). Whole-bit floors (the t16/t22 convention) are too
    * coarse for a CLASSIFIER margin — per-bucket class differences of
    * ~0.1 bits either vanish or jump a full bit; 1/32-bit units keep
    * the argmin decision faithful to the real NB posterior while
    * staying hash-exact. */
  private[graft] def ilog32(e: String): String =
    s"(length(bin($e)) - 1) * 32 + (($e) * 32) div " +
      s"shiftleft(CAST(1 AS BIGINT), CAST(length(bin($e)) - 1 AS INT)) - 32"

  /** DuckDB rendering of [[ilog32]]. */
  private def ilog32Sql(e: String): String =
    s"(len(bin($e)) - 1) * 32 + (($e) * 32) // " +
      s"(CAST(1 AS BIGINT) << (len(bin($e)) - 1)) - 32"

  private def t23(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isTrain = substring(md5(concat(lit("t23"),
      col("doc_id").cast(StringType)).cast(BinaryType)), 1, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7", "8", "9", "a", "b")
    val isAug = substring(md5(concat(lit("t23aug"),
      col("doc_id").cast(StringType)).cast(BinaryType)), 1, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7")
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com"),
      when(col("doc_id") % 3 === 0, lit(" urgent reply needed"))
        .when(col("doc_id") % 3 === 1, lit(" unsubscribe here now"))
        .otherwise(lit(" click this link")),
      lit(" call +1-"), (col("doc_id") * 7) % 10000)
    val corpus = Tables.documents(s, d)
      .select(col("doc_id"),
        when(isAug, aug).otherwise(col("text")).as("text"),
        when(isAug, lit("flagged")).otherwise(lit("clean")).as("label"))
    // Materialized once for the same reason as t22's dc: four branches
    // (train counts, train-doc priors, test scoring, test grid) would
    // otherwise each re-run the tokenize+hash scan.
    val dc = graft.Resources.checkpoint(corpus
      .select(col("doc_id"), col("label"), isTrain.as("train"),
        explode(toks(col("text"))).as("tk"))
      .select(col("doc_id"), col("label"), col("train"),
        hashBucket(col("tk"), NbB).as("bucket"))
      .groupBy(col("doc_id"), col("label"), col("train"), col("bucket"))
      .agg(count(lit(1)).as("cnt")))
    val tc = dc.filter(col("train"))
      .groupBy(col("label"), col("bucket")).agg(sum(col("cnt")).as("c"))
    val tb = tc.select(col("bucket")).distinct()
    val nb = tb.agg(count(lit(1)).as("nbk")).withColumn("j", lit(1))
    // class totals with the Laplace denominator |observed buckets|
    val ncl = tc.groupBy(col("label")).agg(sum(col("c")).as("ctok"))
      .withColumn("j", lit(1)).join(broadcast(nb), "j")
      .select(col("label"), (col("ctok") + col("nbk")).as("nc"))
    val model = ncl.select(col("label"), col("nc")).withColumn("j", lit(1))
      .join(tb.withColumn("j", lit(1)), "j")
      .join(tc, Seq("label", "bucket"), "left")
      .withColumn("x", expr("nc div (coalesce(c, CAST(0 AS BIGINT)) + 1)"))
      .select(col("label").as("cls"), col("bucket"),
        expr(ilog32("x")).cast(LongType).as("ibits"))
    val trainDocs = dc.filter(col("train"))
      .select(col("doc_id"), col("label")).distinct()
    val nTrain = trainDocs.agg(count(lit(1)).as("ntd")).withColumn("j", lit(1))
    val priors = trainDocs.groupBy(col("label")).agg(count(lit(1)).as("nd"))
      .withColumn("j", lit(1)).join(broadcast(nTrain), "j")
      .withColumn("x", expr("ntd div nd"))
      .select(col("label").as("cls"),
        expr(ilog32("x")).cast(LongType).as("pbits"))
    val test = dc.filter(!col("train"))
    val featScore = test.join(broadcast(model), Seq("bucket"))
      .groupBy(col("doc_id"), col("cls"))
      .agg(sum(col("cnt") * col("ibits")).as("fbits"))
    val grid = test.select(col("doc_id"), col("label")).distinct()
      .withColumn("j", lit(1))
      .join(broadcast(priors.withColumn("j", lit(1))), "j")
    val wPred = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_q32"), col("cls"))
    grid.join(featScore, Seq("doc_id", "cls"), "left")
      .select(col("doc_id"), col("label"), col("cls"),
        (col("pbits") + coalesce(col("fbits"), lit(0L)))
          .cast(LongType).as("score_q32"))
      .withColumn("rn", row_number().over(wPred))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("true_label"),
        col("cls").as("pred_label"), col("score_q32"),
        (col("label") === col("cls")).cast(LongType).as("correct"))
      .orderBy(col("doc_id"))
  }

  private val t23Sql =
    s"""WITH base AS (SELECT doc_id, text,
       |    substr(md5(concat('t23', CAST(doc_id AS VARCHAR))), 1, 1)
       |      BETWEEN '0' AND 'b' AS train,
       |    substr(md5(concat('t23aug', CAST(doc_id AS VARCHAR))), 1, 1)
       |      BETWEEN '0' AND '7' AS aug
       |  FROM documents),
       |corpus AS (SELECT doc_id, train,
       |    CASE WHEN aug THEN 'flagged' ELSE 'clean' END AS label,
       |    CASE WHEN aug THEN
       |      text || ' contact user' || doc_id || '@example.com'
       |        || CASE WHEN doc_id % 3 = 0 THEN ' urgent reply needed'
       |                WHEN doc_id % 3 = 1 THEN ' unsubscribe here now'
       |                ELSE ' click this link' END
       |        || ' call +1-' || (doc_id * 7) % 10000
       |      ELSE text END AS text
       |  FROM base),
       |tok AS (SELECT doc_id, label, train,
       |    unnest(string_split_regex(trim(text), '\\s+')) AS tk
       |  FROM corpus),
       |dc AS (SELECT doc_id, label, train,
       |    CAST(concat('0x', substr(md5(tk), 1, 4)) AS BIGINT) % $NbB AS bucket,
       |    count(*) AS cnt
       |  FROM tok GROUP BY ALL),
       |tc AS (SELECT label, bucket, sum(cnt) AS c FROM dc WHERE train
       |       GROUP BY label, bucket),
       |tb AS (SELECT DISTINCT bucket FROM tc),
       |ncl AS (SELECT label, sum(c) + (SELECT count(*) FROM tb) AS nc
       |        FROM tc GROUP BY label),
       |mx AS (SELECT ncl.label AS cls, tb.bucket,
       |    nc // (coalesce(c, 0) + 1) AS x
       |  FROM ncl CROSS JOIN tb
       |  LEFT JOIN tc ON tc.label = ncl.label AND tc.bucket = tb.bucket),
       |model AS (SELECT cls, bucket,
       |    CAST(${ilog32Sql("x")} AS BIGINT) AS ibits FROM mx),
       |td AS (SELECT DISTINCT doc_id, label FROM dc WHERE train),
       |px AS (SELECT label AS cls,
       |    (SELECT count(*) FROM td) // count(*) AS x
       |  FROM td GROUP BY label),
       |priors AS (SELECT cls,
       |    CAST(${ilog32Sql("x")} AS BIGINT) AS pbits FROM px),
       |test AS (SELECT * FROM dc WHERE NOT train),
       |fs AS (SELECT doc_id, cls, sum(cnt * ibits) AS fbits
       |  FROM test JOIN model USING (bucket) GROUP BY doc_id, cls),
       |grid AS (SELECT t.doc_id, t.label, p.cls, p.pbits
       |  FROM (SELECT DISTINCT doc_id, label FROM test) t CROSS JOIN priors p),
       |sc AS (SELECT g.doc_id, g.label, g.cls,
       |    CAST(g.pbits + coalesce(fs.fbits, 0) AS BIGINT) AS score_q32,
       |    row_number() OVER (PARTITION BY g.doc_id
       |      ORDER BY g.pbits + coalesce(fs.fbits, 0), g.cls) AS rn
       |  FROM grid g LEFT JOIN fs ON fs.doc_id = g.doc_id AND fs.cls = g.cls)
       |SELECT doc_id, label AS true_label, cls AS pred_label, score_q32,
       |  CAST(label = cls AS BIGINT) AS correct
       |FROM sc WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---- t24: TF-IDF keyword extraction -------------------------------------
  /** Top-3 keywords per document by TF-IDF — the classic corpus
    * summarization/tagging stage (Salton & Buckley 1988; the keyword
    * step of every BM25-era search/labeling pipeline; reference analog:
    * the per-message string ops of SURVEY §2.1 #7-9, generalized to a
    * corpus statistic). idf is computed in ilog32's 1/32-bit integer
    * units as ilog32(N) − ilog32(df) ≈ 32·log₂(N/df) — exact 64-bit
    * arithmetic on both engines (the t23 convention: whole-bit floors
    * are too coarse; 1/32 bits preserve the ranking margin), so the
    * score column sits under the hash gate rather than a float-log
    * tolerance.
    *
    * Scale: tf is one explode → hash-aggregate on (doc, term) with
    * map-side combine; df aggregates the distinct (term, doc) pairs of
    * the same exploded frame down to a VOCABULARY-sized table that is
    * explicitly broadcast back onto tf (no shuffle of the tf frame for
    * the join); N is a 1-row broadcast. The only full shuffle is the
    * top-k window on doc_id — per-doc groups are tiny (≤ vocab), so
    * no skew. At 100 TB the vocabulary table is the thing to watch
    * (web-scale vocab ~10⁸ rows ≈ a few GB): it stays broadcastable
    * because df-filtering (min-df) bounds it, and if it ever isn't,
    * the join key (term) is the shuffle key — never the corpus. */
  private def t24(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = terms.select(col("term"), col("doc_id")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(n)) // 1-row corpus size
      .withColumn("score",
        (col("tf") * (expr(ilog32("n_docs")) - expr(ilog32("df"))))
          .cast(LongType))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"),
        col("tf").cast(LongType).as("tf"), col("df").cast(LongType).as("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  private val t24Sql =
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM terms GROUP BY doc_id, term),
       |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |       FROM (SELECT DISTINCT term, doc_id FROM terms) GROUP BY term),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    CAST(tf.tf * ((${ilog32Sql("n_docs")}) - (${ilog32Sql("df")})) AS BIGINT) AS score
       |  FROM tf JOIN df USING (term) CROSS JOIN n)
       |SELECT doc_id, rank, term, tf, df, score FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, term) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** t25: SPAN CORRUPTION — the denoising-objective construction step
    * of a T5/UL2-style pretraining pipeline (Raffel et al. 2020 §3.1.4:
    * replace token spans with sentinels; input keeps the sentinels,
    * target lists sentinel + dropped tokens). The span selection here
    * is deliberately BLOCK-STATELESS so the same rule is expressible
    * in one declarative pass on both engines with no sequential scan
    * state: tokens partition into blocks of 10; block b of doc d
    * corrupts positions {s, s+1} where s = md5₄₀(d:b) mod 9 — a ~20%
    * corruption rate in deterministic 2-token spans, sentinel id = the
    * block ordinal. (Production T5 samples span length ~Geometric(3);
    * the block-stateless rule trades that length distribution for a
    * hash-reproducible, order-free formulation — the selection policy
    * is one inlined expression to swap.)
    *
    * Scale shape: the Spark side is strictly ROW-LOCAL — sequence →
    * transform → flatten → array_join higher-order expressions build
    * both input and target inside one projection; no explode, no
    * shuffle, nothing but the scan (the oracle's unnest + string_agg
    * re-derivation shuffles twice — the declarative HOF plan is the
    * one you'd run at 100 TB, and the hash equality proves them
    * identical). md5 runs inside a lambda (non-codegen, the t04
    * note) but only once per 10-token BLOCK, not per token.
    * Block-stateless selection also means resharding/re-chunking a
    * corpus never changes any document's corruption — the property a
    * reproducible training run needs. */
  private def t25(s: SparkSession, d: String): DataFrame = {
    val B = 10
    def sOf(b: Column) = pmod(
      conv(substring(md5(concat(col("doc_id").cast(StringType), lit(":"),
        b.cast(StringType)).cast(BinaryType)), 1, 10), 16, 10)
        .cast(LongType),
      lit(9)).cast(IntegerType)
    def sentinel(b: Column) =
      concat(lit("<X"), b.cast(StringType), lit(">"))
    def blockToks(b: Column) = slice(col("toks"), b * B + 1, lit(B))
    Tables.documents(s, d)
      .withColumn("toks", toks(col("text")))
      .withColumn("nb",
        ((size(col("toks")) + B - 1) / B).cast(IntegerType))
      .withColumn("blocks",
        when(col("nb") > 0, sequence(lit(0), col("nb") - 1))
          .otherwise(array().cast(ArrayType(IntegerType))))
      .select(col("doc_id"),
        array_join(flatten(transform(col("blocks"), b => {
          val bt = blockToks(b)
          val sv = sOf(b)
          when(size(bt) > sv,
            concat(slice(bt, lit(1), sv), array(sentinel(b)),
              slice(bt, sv + 3, lit(B))))
            .otherwise(bt)
        })), " ").as("input_text"),
        array_join(flatten(transform(col("blocks"), b => {
          val bt = blockToks(b)
          val sv = sOf(b)
          when(size(bt) > sv,
            concat(array(sentinel(b)), slice(bt, sv + 1, lit(2))))
            .otherwise(array().cast(ArrayType(StringType)))
        })), " ").as("target_text"))
      .orderBy(col("doc_id"))
  }

  private val t25Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(trim(text), '\s+')) AS tok,
      |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1) - 1
      |      AS idx
      |  FROM documents),
      |b AS (SELECT doc_id, tok, idx, idx // 10 AS blk, idx % 10 AS pos
      |  FROM t),
      |h AS (SELECT DISTINCT doc_id, blk,
      |    CAST(CAST(concat('0x', substr(
      |      md5(CAST(doc_id AS VARCHAR) || ':' || CAST(blk AS VARCHAR)),
      |      1, 10)) AS BIGINT) % 9 AS INT) AS s
      |  FROM b),
      |j AS (SELECT b.doc_id, b.tok, b.idx, b.blk, b.pos, h.s
      |  FROM b JOIN h ON b.doc_id = h.doc_id AND b.blk = h.blk),
      |inp AS (SELECT doc_id,
      |    string_agg(
      |      CASE WHEN pos = s THEN '<X' || blk || '>' ELSE tok END,
      |      ' ' ORDER BY idx)
      |      FILTER (WHERE pos <> s + 1) AS input_text
      |  FROM j GROUP BY doc_id),
      |tb AS (SELECT doc_id, blk,
      |    '<X' || blk || '> ' || string_agg(tok, ' ' ORDER BY pos) AS tp
      |  FROM j WHERE pos IN (s, s + 1) GROUP BY doc_id, blk),
      |tgt AS (SELECT doc_id,
      |    string_agg(tp, ' ' ORDER BY blk) AS target_text
      |  FROM tb GROUP BY doc_id)
      |SELECT i.doc_id, i.input_text,
      |  COALESCE(t2.target_text, '') AS target_text
      |FROM inp i LEFT JOIN tgt t2 ON i.doc_id = t2.doc_id
      |ORDER BY i.doc_id""".stripMargin

  // ---- t26: weighted reservoir sampling (Efraimidis–Spirakis) --------------
  /** Weight-proportional corpus sampling — the A-Res/A-ExpJ shape
    * every data-mixing stage uses when "sample 1% of the corpus,
    * longer/higher-quality docs proportionally more often" has to be
    * ONE distributed pass (Efraimidis & Spirakis 2006: key_i =
    * u_i^(1/w_i), keep the top-k keys — a single top-k over
    * independent per-item draws, no global state, mergeable across
    * partitions by construction).
    *
    * Engine-exact formulation: maximizing u^(1/w) ⟺ minimizing
    * (−log₂ u)/w, so the key is integer-exact on both engines:
    * u = a 48-bit md5 draw, −log₂u in ilog32's 1/32-bit units
    * (e = 48·32 − ilog32(u)), and the division quantized as
    * e · (10¹² div w) — the inverse weight precomputed as an exact
    * integer, ties by doc_id. The weight is the document's token
    * count + 1 (longer docs proportionally likelier — the
    * token-budget-aware sampling a pretraining mix wants).
    *
    * Scale: one scan computing (key, w) per row, then a top-k —
    * Catalyst's TakeOrderedAndProject (per-partition heaps, no global
    * sort shuffle); the reservoir property means the same query over
    * a 100 TB corpus is the same plan. The sampling DISTRIBUTION
    * (heavier ⇒ likelier, across seeds) is pinned by
    * WeightedSampleSpec; the engine determinism by the oracle hash. */
  private def t26(s: SparkSession, d: String): DataFrame = {
    val S = 1000000000000L
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        (size(toks(col("text"))) + 1).cast(LongType).as("w"))
      .withColumn("u", conv(substring(md5(concat(lit("ws"),
        col("doc_id").cast(StringType)).cast(BinaryType)), 1, 12), 16, 10)
        .cast(LongType))
      .withColumn("ebits", lit(48L * 32) - expr(ilog32("u")))
      .withColumn("skey", col("ebits") * expr(s"CAST($S DIV w AS BIGINT)"))
    docs
      .orderBy(col("skey"), col("doc_id"))
      .limit(100)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("skey"), col("doc_id"))).cast(LongType))
      .select(col("rank"), col("doc_id"), col("lang"), col("w"),
        col("skey"))
      .orderBy(col("rank"))
  }

  private val t26Sql =
    s"""WITH d AS (SELECT doc_id, lang,
       |    len(string_split_regex(trim(text), '\\s+')) + 1 AS w,
       |    CAST(concat('0x', substr(md5('ws' || doc_id::VARCHAR), 1, 12))
       |         AS BIGINT) AS u
       |  FROM documents),
       |k AS (SELECT doc_id, lang, w,
       |    (1536 - (${ilog32Sql("u")})) * (1000000000000 // w) AS skey
       |  FROM d)
       |SELECT CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT)
       |    AS rank,
       |  doc_id, lang, CAST(w AS BIGINT) AS w, CAST(skey AS BIGINT) AS skey
       |FROM k ORDER BY skey, doc_id LIMIT 100""".stripMargin

  // ---- t27: UniMax multilingual budget allocation ---------------------------
  /** The language-mixing stage of a multilingual pretraining pipeline
    * (UniMax, Chung et al. 2023): given a token budget B and an
    * epoch cap N (no language's data repeats more than N times),
    * allocate the budget as UNIFORMLY across languages as the caps
    * allow — the closed-form waterfilling: languages sorted by
    * available cap ascending; language i is fully consumed iff
    * cap_i · (L−i+1) + Σ_{j<i} cap_j ≤ B (caps ascending make this a
    * prefix property), and the languages past the last capped index k
    * split the remainder evenly, the division remainder going one
    * token each to the first `rem mod m` of them in (cap, lang)
    * order so the allocation is integer-exact. Two budget scenarios
    * exercise both regimes in one query: B = ½·total (nothing capped
    * — the pure uniform split with remainder distribution) and
    * B = ⅘·total with N = 1 (the corpus's en-heavy skew caps every
    * low-resource language at one epoch and downsamples the head —
    * the UniMax story). epochs_ppm = quota·10⁶ div avail.
    *
    * Scale: one corpus scan → per-language token sum (map-side
    * combined, L rows shuffle). Everything after is window math over
    * the L-row stats frame — the single-partition windows are the
    * same bounded stats-frame pattern as the allowlisted 1-row
    * bounds frames (L = languages, dozens at most), computed once
    * per scan with both scenarios stacked from the same row. */
  private def t27(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perLang = Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(sum(size(toks(col("text")))).cast(LongType).as("avail"))
    val byCap = Window.orderBy(col("avail"), col("lang"))
    val whole = byCap.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val base = perLang
      .withColumn("i", row_number().over(byCap).cast(LongType))
      .withColumn("l", count(lit(1)).over(whole).cast(LongType))
      .withColumn("tot", sum(col("avail")).over(whole))
      .withColumn("pfx",
        coalesce(sum(col("avail")).over(byCap.rowsBetween(
          Window.unboundedPreceding, -1)), lit(0L)))
    val bySc = Window.partitionBy(col("scenario"))
    base
      .select(col("*"), expr(
        "stack(2, 'half_budget', tot div 2, 'four_fifths', tot * 4 div 5)")
        .as(Seq("scenario", "b")))
      .withColumn("capped",
        col("avail") * (col("l") - col("i") + 1) + col("pfx") <= col("b"))
      .withColumn("k",
        coalesce(max(when(col("capped"), col("i"))).over(bySc), lit(0L)))
      .withColumn("pk",
        coalesce(max(when(col("capped"), col("pfx") + col("avail")))
          .over(bySc), lit(0L)))
      .withColumn("quota", expr(
        """CASE WHEN capped THEN avail
          |     ELSE (b - pk) div (l - k) +
          |          (CASE WHEN i - k <= (b - pk) % (l - k)
          |                THEN 1 ELSE 0 END)
          |END""".stripMargin).cast(LongType))
      .withColumn("epochs_ppm",
        expr("quota * 1000000 div avail").cast(LongType))
      .select(col("scenario"), col("lang"), col("avail"), col("quota"),
        col("epochs_ppm"))
      .orderBy(col("scenario"), col("lang"))
  }

  private val t27Sql =
    """WITH pl AS (
      |  SELECT lang,
      |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
      |      AS avail
      |  FROM documents GROUP BY lang),
      |base AS (SELECT lang, avail,
      |    CAST(row_number() OVER (ORDER BY avail, lang) AS BIGINT) AS i,
      |    CAST(count(*) OVER () AS BIGINT) AS l,
      |    CAST(sum(avail) OVER () AS BIGINT) AS tot,
      |    CAST(COALESCE(sum(avail) OVER (ORDER BY avail, lang
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS pfx
      |  FROM pl),
      |sc AS (SELECT base.*, s.scenario,
      |    CASE s.scenario WHEN 'half_budget' THEN tot // 2
      |                    ELSE tot * 4 // 5 END AS b
      |  FROM base, (SELECT unnest(['half_budget', 'four_fifths'])
      |              AS scenario) s),
      |fl AS (SELECT *, (avail * (l - i + 1) + pfx <= b) AS capped FROM sc),
      |kk AS (SELECT *,
      |    COALESCE(max(CASE WHEN capped THEN i END)
      |      OVER (PARTITION BY scenario), 0) AS k,
      |    COALESCE(max(CASE WHEN capped THEN pfx + avail END)
      |      OVER (PARTITION BY scenario), 0) AS pk
      |  FROM fl),
      |qt AS (SELECT scenario, lang, avail,
      |    CASE WHEN capped THEN avail
      |         ELSE (b - pk) // (l - k) +
      |              (CASE WHEN i - k <= (b - pk) % (l - k) THEN 1 ELSE 0 END)
      |    END AS quota
      |  FROM kk)
      |SELECT scenario, lang, avail, CAST(quota AS BIGINT) AS quota,
      |  CAST(quota * 1000000 // avail AS BIGINT) AS epochs_ppm
      |FROM qt ORDER BY scenario, lang""".stripMargin

  val all: Seq[Q] = Seq(
    Q("t01_token_count", t01, Some(t01Sql)),
    Q("t02_quality_score", t02, Some(t02Sql)),
    Q("t03_lang_id", t03, Some(t03Sql)),
    Q("t04_fingerprint", t04, Some(t04Sql)),
    Q("t05_ngram_profile", t05, Some(t05Sql)),
    Q("t06_sentence_split", t06, Some(t06Sql)),
    Q("t07_repetition", t07, Some(t07Sql)),
    Q("t08_domain_mix", t08, Some(t08Sql)),
    Q("t09_rolling_context", t09, Some(t09Sql)),
    Q("t10_sequence_pack", t10, Some(t10Sql)),
    Q("t11_pii_scrub", t11, Some(t11Sql)),
    Q("t12_corpus_shuffle", t12, Some(t12Sql)),
    Q("t13_filter_funnel", t13, Some(t13Sql)),
    Q("t14_stratified_sample", t14, Some(t14Sql)),
    Q("t15_corpus_pipeline", t15, Some(t15Sql)),
    Q("t16_lm_surprisal", t16, Some(t16Sql)),
    Q("t17_bpe_train", t17, Some(t17Sql)),
    Q("t18_bigram_generate", t18, Some(t18Sql)),
    Q("t19_pretrain_pipeline", t19, Some(t19Sql)),
    Q("t20_bpe_encode", t20, Some(t20Sql)),
    Q("t21_chunk_windows", t21, Some(t21Sql)),
    Q("t22_dsir_selection", t22, Some(t22Sql)),
    Q("t23_nb_classifier", t23, Some(t23Sql)),
    Q("t24_tfidf_keywords", t24, Some(t24Sql)),
    Q("t25_span_corrupt", t25, Some(t25Sql)),
    Q("t26_weighted_sample", t26, Some(t26Sql)),
    Q("t27_unimax_mixing", t27, Some(t27Sql)),
  )
}
