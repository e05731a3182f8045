package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, token counting,
  * document fingerprinting. All pure Catalyst expressions (codegen'd, no
  * UDFs) so they stay inside WholeStageCodegen on a 100-TB scan.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish regex token stream: runs of letters or digits. */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-z]+|[0-9]+"), lit(0))

  /** Split each document into OVERLAPPING token windows — the standard
    * pre-embedding step of a retrieval/dedup pipeline (docs → windows →
    * embed → [[Similarity]] / q90-style pooling back to docs). Windows
    * start every `window − overlap` tokens; the LAST window is
    * right-aligned at the document tail (start = m − window + 1), so
    * every token is covered and no chunk exceeds `window` tokens — the
    * common right-aligned chunker, not a tail-dropping one. A document
    * shorter than one window yields exactly one chunk of itself.
    *
    * Pure integer expression arithmetic (chunk count and starts are
    * engine-exact — no floating ceil), one posexplode as the only
    * generator: per-row work is O(chunks), no shuffle, stays in
    * whole-stage codegen on a corpus scan.
    *
    * Returns (idCol, chunk_idx int, n_tokens int, chunk_text). */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  window: Int, overlap: Int): DataFrame = {
    require(window > 0 && overlap >= 0 && overlap < window,
      s"chunkTokens needs 0 <= overlap < window, got window=$window overlap=$overlap")
    val stride = window - overlap
    val withCount = df
      .withColumn("__toks", split(col(textCol), " "))
      .withColumn("__m", size(col("__toks")))
      // n = 1 + ceil(max(m - window, 0) / stride), in exact integer form
      .withColumn("__n",
        expr(s"1 + (greatest(__m - $window, 0) + ${stride - 1}) div $stride"))
    val starts = transform(sequence(lit(0), col("__n") - 1),
      k => least(lit(1) + k * stride, greatest(col("__m") - window + 1, lit(1))))
    withCount
      .select(col(idCol), col("__toks"), col("__m"),
        posexplode(starts).as(Seq("chunk_idx", "__st")))
      .select(col(idCol), col("chunk_idx").cast("int").as("chunk_idx"),
        least(lit(window), col("__m") - col("__st") + 1).cast("int").as("n_tokens"),
        concat_ws(" ", slice(col("__toks"), col("__st"), lit(window))).as("chunk_text"))
  }

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "for")

  /** Quality profile per document: lengths, token counts, distinct ratio,
    * stopword ratio, mean token length. One narrow projection — no
    * shuffle, fully pushed into the scan stage. */
  def qualityProfile(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(textCol)).as("n_chars_calc"),
      size(split(col(textCol), " ")).as("n_tokens"),
      size(array_distinct(split(col(textCol), " "))).as("n_distinct"),
      round(size(expr(s"filter(split($textCol, ' '), t -> t IN (" +
        defaultStopwords.map(s => s"'$s'").mkString(", ") + "))")) /
        size(split(col(textCol), " ")).cast("double"), 6).as("stop_ratio"),
      round(expr(s"aggregate(split($textCol, ' '), 0L, (acc, t) -> acc + length(t))") /
        size(split(col(textCol), " ")).cast("double"), 4).as("mean_token_len"))

  /** Heuristic language ID: stopword-list hit counts per language, argmax
    * with a pinned precedence order. Deterministic, SQL-expressible. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ein"))

  /** Single-Column formulation — convenient for one-off use in tests, but
    * the higher-order `filter` scores are CodegenFallback and every `when`
    * branch re-evaluates them (no CSE for interpreted HOFs), so the tree
    * costs ~20 filter+split evaluations per row. Hot paths must use
    * [[withLangId]], which materializes each score exactly once. */
  def langId(textCol: String): Column = {
    val scores = langStopwords.map { case (lang, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      lang -> expr(s"size(filter(split($textCol, ' '), t -> t IN ($inList)))")
    }
    // argmax with precedence = list order; all-zero -> 'und'
    scores.tail.foldLeft(
      when(scores.head._2 >= greatest(scores.map(_._2): _*) && scores.head._2 > 0,
        lit(scores.head._1))) { case (acc, (lang, sc)) =>
      acc.when(sc >= greatest(scores.map(_._2): _*) && sc > 0, lit(lang))
    }.otherwise(lit("und"))
  }

  /** Language ID as a staged plan — the shape the DuckDB oracle already
    * uses (score CTE, then CASE): one projection tokenizes, one projection
    * computes the four stopword-hit scores (a `withColumns` batch of
    * non-cheap aliases, which CollapseProject will NOT re-inline into the
    * consumers), then the argmax CASE runs over plain int columns. Each
    * interpreted HOF evaluates exactly once per row instead of ~20 times —
    * this is what keeps language gating viable inside a 100-TB curation
    * scan. Temp columns are dropped; output schema = input + `outCol`. */
  def withLangId(df: DataFrame, textCol: String, outCol: String = "lang_pred"): DataFrame = {
    val toksCol = "__li_toks"
    val scoreNames = langStopwords.map { case (lang, _) => lang -> s"__li_s_$lang" }
    val scoreExprs = langStopwords.map { case (lang, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      s"__li_s_$lang" -> size(expr(s"filter($toksCol, t -> t IN ($inList))"))
    }
    val scored = df
      .withColumn(toksCol, split(col(textCol), " "))
      .withColumns(scoreExprs.toMap)
      .withColumn("__li_max", greatest(scoreNames.map(p => col(p._2)): _*))
    val pred = scoreNames.tail.foldLeft(
      when(col(scoreNames.head._2) >= col("__li_max") && col(scoreNames.head._2) > 0,
        lit(scoreNames.head._1))) { case (acc, (lang, sn)) =>
      acc.when(col(sn) >= col("__li_max") && col(sn) > 0, lit(lang))
    }.otherwise(lit("und"))
    scored.withColumn(outCol, pred)
      .drop(toksCol +: "__li_max" +: scoreNames.map(_._2): _*)
  }

  /** Word n-grams WITH multiplicity (frequency counting wants every
    * occurrence; Dedup.shingleExpr dedups for set similarity). */
  def ngramExpr(toksCol: String, n: Int = 2): Column =
    expr(
      s"IF(size($toksCol) >= $n, " +
        s"transform(sequence(1, size($toksCol) - ${n - 1}), " +
        s"i -> concat_ws(' ', " +
        (0 until n).map(i => s"element_at($toksCol, i + $i)").mkString(", ") +
        ")), CAST(array() AS ARRAY<STRING>))")

  /** TF-IDF term scores: tf = in-document term count, idf = smooth
    * ln((N+1)/(df+1)) + 1. Two hash-aggregate shuffles (doc-term, then
    * term document-frequency) + a term-keyed join — the canonical
    * distributed shape; no vectors, no fitting, SQL-mirrorable. `nDocs`
    * is passed in so the caller controls the extra count pass. */
  def tfIdf(df: DataFrame, idCol: String, textCol: String, nDocs: Long): DataFrame = {
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dft"))
    tf.join(dfreq, "term")
      .withColumn("score",
        expr(s"round(tf * (ln(CAST($nDocs + 1 AS DOUBLE) / (dft + 1)) + 1.0), 6)"))
  }

  /** BM25 term scores (k1 = 1.2, b = 0.75; Robertson/Walker's Okapi
    * weighting, TREC-3 1994): the retrieval-grade upgrade of [[tfIdf]] —
    * same two-aggregation + join shape plus a broadcast 1-row (avgdl)
    * frame. Scores rounded at 6 so a 1-ulp ln() difference between
    * engines cannot reorder ranks. */
  def bm25(df: DataFrame, idCol: String, textCol: String, nDocs: Long): DataFrame = {
    val dl = df.select(col(idCol), size(tokens(col(textCol))).as("dl"))
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dft"))
    val stats = dl.agg(expr("CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl"))
    tf.join(dfreq, "term").join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("score", expr(
        s"round(ln(((CAST($nDocs - dft AS DOUBLE) + 0.5) / (dft + 0.5)) + 1.0) * " +
          "((tf * (1.2 + 1.0)) / (tf + (1.2 * ((1.0 - 0.75) + ((0.75 * dl) / avgdl))))), 6)"))
  }

  /** PII scrubbing battery for training-data curation: emails, IPv4s,
    * international phone runs — redacted in a fixed order (email first:
    * the other patterns can match inside a local part). Patterns stay in
    * the RE2-compatible subset (no backrefs/lookaround) so a DuckDB
    * oracle runs them verbatim. Pure regexp_replace/extract expressions:
    * codegen'd, no shuffle — the shape of a 100-TB scrub pass. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\+\\d{7,15}", "<PHONE>"))

  /** Scrubbed text column (sequential redaction in piiPatterns order). */
  def scrubPii(textCol: Column): Column =
    piiPatterns.foldLeft(textCol) { case (c, (_, pat, repl)) =>
      regexp_replace(c, pat, repl)
    }

  /** Per-pattern match count over the ORIGINAL text (counts are
    * independent per pattern, so they commute with the redaction). */
  def piiCounts(textCol: Column): Seq[(String, Column)] =
    piiPatterns.map { case (name, pat, _) =>
      s"n_$name" -> size(regexp_extract_all(textCol, lit(pat), lit(0)))
    }

  /** Boilerplate removal: drop repeated lines, keeping the FIRST
    * occurrence in document order (the classic header/footer/nav dedup
    * inside a scraped page). Formulated as explode → first-position per
    * distinct line → ordered reassembly: one hash aggregate per doc, no
    * O(lines^2) lambda scans, works at any line count. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    lines.groupBy(col(idCol), col("line"))
      .agg(min("pos").as("fpos"), count(lit(1)).as("occurrences"))
      .groupBy(col(idCol))
      .agg(
        sum("occurrences").cast("int").as("n_lines"),
        count(lit(1)).cast("int").as("n_unique"),
        md5(concat_ws("\n",
          expr("transform(array_sort(collect_list(struct(fpos, line))), s -> s.line)")))
          .as("dedup_md5"))
  }

  /** Stateless twin of [[dedupLines]]: the same per-document outputs as
    * pure array expressions — no explode, no aggregation, no shuffle —
    * so it runs VERBATIM under readStream in append mode (q81's
    * streaming twin, pinned stream==batch in StreamingSpec). First-
    * occurrence selection is `array_position(lines, x) = i + 1` inside
    * an indexed filter: O(L²) per document worst-case versus the batch
    * aggregate's O(L), the right trade for micro-batches and bounded
    * line counts; the batch path stays the 100-TB shape for deep docs.
    * `__lines` is staged as a real column so the HOFs evaluate the
    * split once (the q37 langid lesson). */
  def dedupLinesStateless(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__lines", split(col(textCol), "\n"))
      .select(col(idCol),
        size(col("__lines")).as("n_lines"),
        size(array_distinct(col("__lines"))).as("n_unique"),
        md5(concat_ws("\n",
          expr("filter(__lines, (x, i) -> array_position(__lines, x) = i + 1)")))
          .as("dedup_md5"))

  /** Document fingerprint: md5 of the first n tokens (prefix fingerprint
    * for near-head-duplicate grouping). */
  def prefixFingerprint(textCol: String, n: Int = 5): Column =
    md5(concat_ws(" ", slice(split(col(textCol), " "), 1, n)))

  /** Normalized full-text fingerprint: lowercase, collapse whitespace. */
  def normalizedFingerprint(textCol: String): Column =
    md5(regexp_replace(lower(trim(col(textCol))), "\\s+", " "))

  /** Repetition profile — the Gopher-style repetitiousness filters
    * (Rae et al., "Scaling Language Models: Methods, Analysis & Insights
    * from Training Gopher", 2021, §A1.1): per document,
    *
    *  - `dup_line_frac`       fraction of lines that are repeats of an
    *                          earlier line
    *  - `dup_line_char_frac`  fraction of line characters inside lines
    *                          occurring more than once
    *  - `top_2gram_frac`      share of the most frequent word 2-gram
    *  - `rep_3gram_frac`      share of word 3-grams occurring >= 2 times
    *  - `pass_gate`           1 when all four clear the curation
    *                          thresholds (0.3 / 0.3 / 0.2 / 0.18)
    *
    * Shape for scale: ONE explode emits (doc, kind, key) for lines,
    * 2-grams and 3-grams together, then two hash aggregates — both
    * map-side combinable, shuffling only (doc, kind, key) tuples and the
    * per-doc conditional sums. No per-row O(G·distinct-G) lambda scans:
    * per-doc n-gram mode needs a count per distinct gram, which is an
    * aggregation, not an expression. All fractions are exact BIGINT
    * ratios cast to double — bit-identical across engines, no rounding.
    */
  def repetitionProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // lines/tokens staged as REAL columns: element_at inside the gram
    // lambdas then reads a bound reference instead of re-running split()
    // per element (the HOF re-evaluation trap — see withLangId).
    val kv = df
      .withColumn("__lines", split(col(textCol), "\n"))
      .withColumn("__toks", split(regexp_replace(col(textCol), "\n", " "), " "))
      .select(col(idCol), explode(expr(
        """concat(
            transform(__lines, l -> named_struct('kind', 'line', 'key', l)),
            IF(size(__toks) >= 2,
              transform(sequence(1, size(__toks) - 1),
                i -> named_struct('kind', 'g2', 'key',
                  concat_ws(' ', element_at(__toks, i), element_at(__toks, i + 1)))),
              CAST(array() AS ARRAY<STRUCT<kind: STRING, key: STRING>>)),
            IF(size(__toks) >= 3,
              transform(sequence(1, size(__toks) - 2),
                i -> named_struct('kind', 'g3', 'key',
                  concat_ws(' ', element_at(__toks, i), element_at(__toks, i + 1),
                            element_at(__toks, i + 2)))),
              CAST(array() AS ARRAY<STRUCT<kind: STRING, key: STRING>>)))""")).as("kv"))
      .select(col(idCol), col("kv.kind").as("kind"), col("kv.key").as("key"))
    val counts = kv.groupBy(col(idCol), col("kind"), col("key"))
      .agg(count(lit(1)).as("cnt"))
    val line = col("kind") === "line"
    val prof = counts.groupBy(col(idCol)).agg(
      sum(when(line, col("cnt"))).as("n_l"),
      count(when(line, lit(1))).as("u_l"),
      sum(when(line, col("cnt") * length(col("key")))).as("lc"),
      sum(when(line && col("cnt") >= 2, col("cnt") * length(col("key")))).as("dlc"),
      max(when(col("kind") === "g2", col("cnt"))).as("g2m"),
      sum(when(col("kind") === "g2", col("cnt"))).as("g2t"),
      sum(when(col("kind") === "g3" && col("cnt") >= 2, col("cnt"))).as("g3r"),
      sum(when(col("kind") === "g3", col("cnt"))).as("g3t"))
    def ratio(num: Column, den: Column): Column =
      when(den.isNull || den === 0, lit(0.0))
        .otherwise(coalesce(num, lit(0L)).cast("double") / den)
    prof.select(
      col(idCol),
      col("n_l").cast("int").as("n_lines"),
      ratio(col("n_l") - col("u_l"), col("n_l")).as("dup_line_frac"),
      ratio(col("dlc"), col("lc")).as("dup_line_char_frac"),
      ratio(col("g2m"), col("g2t")).as("top_2gram_frac"),
      ratio(col("g3r"), col("g3t")).as("rep_3gram_frac"))
      .withColumn("pass_gate",
        (col("dup_line_frac") <= 0.3 && col("dup_line_char_frac") <= 0.3 &&
          col("top_2gram_frac") <= 0.2 && col("rep_3gram_frac") <= 0.18).cast("int"))
  }

  /** Stateless twin of [[repetitionProfile]]: identical per-document
    * outputs as pure array expressions — no explode, no aggregation, no
    * shuffle — so the repetition gate runs VERBATIM under `readStream`
    * in append mode. Per-gram counts come from SORTED-RUN folds: sort
    * the gram array once, then one `aggregate` pass tracks the current
    * run length (a run of length r means a gram occurring r times), so
    * mode and repeat totals cost O(G log G) per document instead of the
    * O(G·distinct-G) nested-lambda scan. Fractions are the same exact
    * integer ratios as the batch aggregate — bit-identical outputs,
    * pinned in StreamingSpec. The batch path remains the 100-TB shape
    * for deep documents; this is the micro-batch gate. */
  def repetitionProfileStateless(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // run folds over a sorted array: when a run reaches 2, credit both
    // members; each further member credits 1 — no finish-pass needed
    def maxRun(arr: String) =
      s"""aggregate(array_sort($arr),
           named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
           (a, x) -> named_struct('prev', x,
                       'run', IF(a.prev <=> x, a.run + 1, 1),
                       'best', greatest(a.best, IF(a.prev <=> x, a.run + 1, 1))),
           a -> a.best)"""
    def repTotal(arr: String) =
      s"""aggregate(array_sort($arr),
           named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'rep', 0),
           (a, x) -> named_struct('prev', x,
                       'run', IF(a.prev <=> x, a.run + 1, 1),
                       'rep', a.rep + IF(a.prev <=> x, IF(a.run = 1, 2, 1), 0)),
           a -> a.rep)"""
    def dupChars(arr: String) =
      s"""aggregate(array_sort($arr),
           named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'dc', 0L),
           (a, x) -> named_struct('prev', x,
                       'run', IF(a.prev <=> x, a.run + 1, 1),
                       'dc', a.dc + IF(a.prev <=> x,
                               IF(a.run = 1, 2L, 1L) * length(x), 0L)),
           a -> a.dc)"""
    df.withColumn("__lines", split(col(textCol), "\n"))
      .withColumn("__toks", split(regexp_replace(col(textCol), "\n", " "), " "))
      .withColumn("__g2", expr(
        """IF(size(__toks) >= 2, transform(sequence(1, size(__toks) - 1),
             i -> concat_ws(' ', element_at(__toks, i), element_at(__toks, i + 1))),
           CAST(array() AS ARRAY<STRING>))"""))
      .withColumn("__g3", expr(
        """IF(size(__toks) >= 3, transform(sequence(1, size(__toks) - 2),
             i -> concat_ws(' ', element_at(__toks, i), element_at(__toks, i + 1),
                            element_at(__toks, i + 2))),
           CAST(array() AS ARRAY<STRING>))"""))
      .select(col(idCol),
        size(col("__lines")).as("n_lines"),
        expr("""CAST(size(__lines) - size(array_distinct(__lines)) AS DOUBLE) /
                size(__lines)""").as("dup_line_frac"),
        expr(s"""CAST(${dupChars("__lines")} AS DOUBLE) /
                 aggregate(__lines, 0L, (a, x) -> a + length(x))""")
          .as("dup_line_char_frac"),
        expr(s"""CASE WHEN size(__g2) = 0 THEN 0D
                 ELSE CAST(${maxRun("__g2")} AS DOUBLE) / size(__g2) END""")
          .as("top_2gram_frac"),
        expr(s"""CASE WHEN size(__g3) = 0 THEN 0D
                 ELSE CAST(${repTotal("__g3")} AS DOUBLE) / size(__g3) END""")
          .as("rep_3gram_frac"))
      .withColumn("pass_gate",
        (col("dup_line_frac") <= 0.3 && col("dup_line_char_frac") <= 0.3 &&
          col("top_2gram_frac") <= 0.2 && col("rep_3gram_frac") <= 0.18).cast("int"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * n-gram with a benchmark/eval set (the n-gram-overlap decontamination
    * of Brown et al., "Language Models are Few-Shot Learners", 2020,
    * §C). Returns (id, n_hits, n_grams) for contaminated docs only —
    * n_hits = distinct shared n-grams, n_grams = the doc's distinct
    * n-gram count.
    *
    * Shape for scale: benchmark suites are tiny next to a training
    * corpus, so the benchmark gram set is BROADCAST — the corpus side is
    * exploded (distinct per doc via one per-row array_distinct, no
    * shuffle), hash-joined against the broadcast set, and aggregated on
    * doc id: exactly one shuffle, of hit rows only. */
  def contaminationHits(df: DataFrame, benchmark: DataFrame, idCol: String,
                        textCol: String, n: Int = 5): DataFrame = {
    // tokens staged as a real column before the gram lambda (HOF
    // re-evaluation trap — see repetitionProfile)
    val gramArr =
      s"""array_distinct(IF(size(__toks) >= $n,
            transform(sequence(1, size(__toks) - ${n - 1}),
              i -> concat_ws(' ', ${(0 until n).map(k => s"element_at(__toks, i + $k)").mkString(", ")})),
            CAST(array() AS ARRAY<STRING>)))"""
    val benchGrams = benchmark
      .withColumn("__toks", split(col(textCol), " "))
      .select(explode(expr(gramArr)).as("gram")).distinct()
    val docGrams = df
      .withColumn("__toks", split(col(textCol), " "))
      .withColumn("__gs", expr(gramArr))
      .select(col(idCol), size(col("__gs")).as("n_grams"),
        explode(col("__gs")).as("gram"))
    docGrams.join(broadcast(benchGrams), Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_hits"),
        first(col("n_grams")).cast("int").as("n_grams"))
  }

  /** The 100-TB tier of [[contaminationHits]]: a BLOOM-FILTER prefilter
    * ahead of the exact gram join, for the regime where the benchmark
    * gram set is too big to broadcast as strings (a few hundred million
    * grams = multi-GB of text; the exact tier's broadcast join then
    * degrades to a corpus-wide shuffle of every exploded gram). The
    * bloom costs ~`-log2(fpp)/ln2` BITS per gram (1.4 MB per million
    * grams at 1%), the corpus side drops all but hits + fpp of its
    * grams BEFORE any shuffle, and the exact join on the survivors
    * removes the false positives — the OUTPUT IS IDENTICAL to
    * [[contaminationHits]] (a bloom has no false negatives: equal grams
    * compute equal probe positions), so the exact tier's oracle serves
    * this one verbatim.
    *
    * No UDF, no sketch library, no internal API: the filter is an
    * ARRAY<LONG> word vector built in DataFrame algebra (per-gram
    * double-hash probe positions → `bit_or` per 64-bit word → one
    * dense `transform(sequence(...))` row, broadcast by a 1-row cross
    * join) and the membership test is integer arithmetic + `element_at`
    * + bitwise AND inside a `forall` — every stage whole-stage-codegen
    * built-ins. Probe positions use xxhash64 double hashing
    * (pos_i = (h1 + i·h2) mod m, both residues reduced BEFORE the
    * multiply so no intermediate leaves 2^63). xxhash64 never reaches
    * the output, so cross-engine oracle parity is untouched.
    *
    * `expectedGrams` <= 0 derives the sizing from a count of the staged
    * benchmark gram set (one benchmark-sized aggregate action — the
    * frame is reused for the build and the confirm join). The word
    * vector is capped at 32 MB (`require`) — at 10 bits/gram that is
    * ~270 M benchmark grams, far past any eval suite.
    *
    * The honest single-box record (SURVEY.md round 13, 45 M corpus
    * grams vs a 1.8 M-gram benchmark, broadcast joins disabled): wall
    * time within 1.35x of the raw gram shuffle join — local NVMe
    * shuffle is nearly free, so the saved bytes don't buy wall clock
    * on one machine. What the tier buys is the CLUSTER regime: 2.2 MB
    * shipped per executor instead of a 79 MB string relation (37x,
    * growing linearly with the benchmark), and the corpus-gram network
    * shuffle replaced by a local filter — plus it simply still RUNS
    * where the hinted broadcast of a multi-GB benchmark aborts the
    * driver. */
  def contaminationHitsBloom(df: DataFrame, benchmark: DataFrame,
                             idCol: String, textCol: String, n: Int = 5,
                             fpp: Double = 0.01, expectedGrams: Long = 0L,
                             staging: Staging.Mode = Staging.Local): DataFrame = {
    require(fpp > 0.0 && fpp < 0.5, s"fpp must be in (0, 0.5): $fpp")
    val gramArr =
      s"""array_distinct(IF(size(__toks) >= $n,
            transform(sequence(1, size(__toks) - ${n - 1}),
              i -> concat_ws(' ', ${(0 until n).map(k => s"element_at(__toks, i + $k)").mkString(", ")})),
            CAST(array() AS ARRAY<STRING>)))"""
    val bg = staging(benchmark
      .withColumn("__toks", split(col(textCol), " "))
      .select(explode(expr(gramArr)).as("gram")).distinct())
    val est = math.max(if (expectedGrams > 0) expectedGrams else bg.count(), 1L)
    val k = math.max(1, math.round(-math.log(fpp) / math.log(2.0)).toInt)
    val m = ((math.ceil(est.toDouble * k / math.log(2.0)).toLong max 64L) + 63L) / 64L * 64L
    val nWords = m / 64L
    require(nWords <= (1L << 22),
      s"bloom word vector would be ${nWords * 8} bytes (> 32 MB): " +
        s"$est grams at fpp=$fpp — raise fpp or shrink the benchmark")
    def res1(c: Column) = pmod(xxhash64(c), lit(m))
    def res2(c: Column) = pmod(xxhash64(c, lit(0x9E3779B9L)), lit(m - 1L)) + lit(1L)
    val sparse = bg
      .withColumn("__i", explode(expr(s"sequence(0L, ${k - 1}L)")))
      .withColumn("__pos",
        pmod(res1(col("gram")) + col("__i") * res2(col("gram")), lit(m)))
      .groupBy(expr("__pos DIV 64").as("__w"))
      .agg(bit_or(expr("shiftleft(1L, CAST(__pos % 64 AS INT))")).as("__bits"))
    // densify via a range left-join + sort_array — NOT a map lookup per
    // index: Spark map element_at is a LINEAR scan, so a
    // transform(sequence(...), w -> element_at(map, w)) build is
    // O(words²) in one single-threaded row (measured 988 s at 720 k
    // benchmark grams / 113 k words; this shape is 2 s)
    val dense = df.sparkSession.range(nWords)
      .select(col("id").as("__w"))
      .join(sparse, Seq("__w"), "left")
      .select(col("__w"), coalesce(col("__bits"), lit(0L)).as("__bits"))
    val bloom = dense
      .agg(sort_array(collect_list(struct(col("__w"), col("__bits")))).as("__s"))
      .select(expr("transform(__s, x -> x.__bits)").as("__bloom"))
    val docGrams = df
      .withColumn("__toks", split(col(textCol), " "))
      .withColumn("__gs", expr(gramArr))
      .select(col(idCol), size(col("__gs")).as("n_grams"),
        explode(col("__gs")).as("gram"))
    // the k probes UNROLLED into plain conjuncts, not a forall — Spark
    // never codegens lambda HOFs, and an interpreted per-gram forall is
    // 2.4x slower than the shuffle it exists to avoid (measured at 9 M
    // corpus grams); unrolled, the whole probe stays in codegen
    val probeCond = (0 until k).map { i =>
      s"""((element_at(__bloom, CAST(pmod(__r1 + $i * __r2, ${m}L) DIV 64 AS INT) + 1)
           & shiftleft(1L, CAST(pmod(__r1 + $i * __r2, ${m}L) % 64 AS INT))) != 0L)"""
    }.mkString(" AND ")
    val pre = docGrams.crossJoin(broadcast(bloom))
      .withColumn("__r1", res1(col("gram")))
      .withColumn("__r2", res2(col("gram")))
      .filter(expr(probeCond))
      .drop("__bloom", "__r1", "__r2")
    // exact confirm: deliberately NO broadcast hint — the tier's premise
    // is a benchmark too big for one; the prefilter has already shrunk
    // the probe side to hits + fpp, and AQE still picks broadcast when
    // the benchmark turns out small
    pre.join(bg, Seq("gram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_hits"),
        first(col("n_grams")).cast("int").as("n_grams"))
  }

  /** Stateless twin of [[contaminationHits]] for streams: the benchmark
    * gram set rides along as a LITERAL array (benchmark suites are tiny
    * and static by nature), so per-document hit counting is one
    * `array_intersect` — no join, no aggregation, runs VERBATIM under
    * `readStream` in append mode. Same (id, n_hits, n_grams) rows as
    * the batch join, pinned in StreamingSpec. */
  def contaminationHitsStateless(df: DataFrame, idCol: String, textCol: String,
                                 benchGrams: Seq[String], n: Int = 5): DataFrame = {
    val gramArr =
      s"""array_distinct(IF(size(__toks) >= $n,
            transform(sequence(1, size(__toks) - ${n - 1}),
              i -> concat_ws(' ', ${(0 until n).map(k => s"element_at(__toks, i + $k)").mkString(", ")})),
            CAST(array() AS ARRAY<STRING>)))"""
    df.withColumn("__toks", split(col(textCol), " "))
      .withColumn("__gs", expr(gramArr))
      .select(col(idCol),
        size(array_intersect(col("__gs"), typedlit(benchGrams))).as("n_hits"),
        size(col("__gs")).as("n_grams"))
      .filter(col("n_hits") >= 1)
  }

  /** Cross-document repeated-SPAN removal — the gram-approximated form of
    * exact-substring deduplication (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", 2021: drop any span that occurs
    * verbatim elsewhere in the corpus; here a token is dropped when ANY
    * n-gram covering it occurs >= 2 times corpus-wide, the
    * suffix-array-free formulation).
    *
    * Scale shape: one gram-key shuffle for the duplicate-gram set (hash
    * aggregate with map-side combine), one equi-join of per-doc distinct
    * grams against that set (only hit rows aggregate into the per-doc hit
    * list), one id join back. The coverage test is a per-row expression:
    * position i is covered iff some gram starting in [i-n+1, i] is in the
    * doc's hit list — O(m · n · |hits|) array ops per doc, no extra
    * shuffle. Docs shorter than n have no grams, an empty hit list, and
    * pass through unchanged. Returns (idCol, n_tokens, n_removed,
    * cleaned_md5) where cleaned_md5 fingerprints the surviving tokens in
    * order (md5('') when everything was removed). */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 8,
                     staging: Staging.Mode = Staging.Local): DataFrame = {
    // staged once: read by the gram explode AND the final re-join (the
    // signature-staging rule from the pair-join dedup operators);
    // Staging.Reliable(dir) on clusters, Staging.None to compose
    val base = staging(df.withColumn("__toks", split(col(textCol), " "))
      .withColumn("__m", size(col("__toks")))
      .withColumn("__g", expr(
        s"""IF(__m >= $n,
              transform(sequence(1, __m - ${n - 1}),
                        j -> concat_ws(' ', slice(__toks, j, $n))),
              CAST(array() AS ARRAY<STRING>))"""))
      .select(col(idCol), col("__toks"), col("__m"), col("__g")))
    val ex = base.select(col(idCol), explode(col("__g")).as("gram"))
    val dup = ex.groupBy("gram").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("gram")
    val hits = ex.distinct().join(dup, Seq("gram"))
      .groupBy(col(idCol)).agg(collect_set(col("gram")).as("__hs"))
    base.join(hits, Seq(idCol), "left")
      .withColumn("__hs",
        coalesce(col("__hs"), expr("CAST(array() AS ARRAY<STRING>)")))
      // the outer IF guards docs shorter than n: Spark's sequence(a, b)
      // DESCENDS when b < a (it would probe gram index 0, an ANSI error)
      // — such docs have no grams and keep every token by definition
      .withColumn("__keep", expr(
        s"""IF(__m < $n, sequence(1, __m),
              filter(sequence(1, __m),
                i -> size(filter(sequence(greatest(1, i - ${n - 1}),
                                          least(i, __m - ${n - 1})),
                          j -> array_contains(__hs, element_at(__g, j)))) = 0))"""))
      .select(col(idCol),
        col("__m").cast("int").as("n_tokens"),
        (col("__m") - size(col("__keep"))).cast("int").as("n_removed"),
        md5(concat_ws(" ", expr("transform(__keep, i -> element_at(__toks, i))")))
          .as("cleaned_md5"))
  }

  /** Unigram language-model perplexity scoring — train the LM on the
    * corpus itself (add-one smoothed token frequencies), then score every
    * document by its mean negative log2-likelihood: the classic
    * LM-quality filter (high NLL = tokens the corpus finds surprising —
    * gibberish, boilerplate codes, wrong-language fragments).
    *
    * Two aggregation passes + one join, all map-side combinable:
    *   1. explode → groupBy(token) count (the LM fit — ONE shuffle on
    *      token; the vocab frame is the small side at corpus scale after
    *      any frequency cutoff),
    *   2. re-explode → equi-join token→count (shuffle on token; only
    *      (doc, token) pairs flow) → groupBy(doc) mean NLL.
    * p(t) = (cnt(t) + 1) / (N + V); trained-on-itself means no OOV path
    * is needed (every scored token is in the vocab by construction —
    * callers scoring a DIFFERENT corpus add the unseen-token branch with
    * the same +1 numerator). log2 via ln/ln2 in double; callers round
    * (last-ulp libm differences across engines are real). */
  def unigramNll(df: DataFrame, idCol: String, textCol: String,
                 staging: Staging.Mode = Staging.Local): DataFrame = {
    // the exploded token frame feeds BOTH the LM fit and the probe side
    // of the scoring join — staged once so the corpus is tokenized once
    // (the self-join staging rule); the vocab counts are staged too so
    // the driver-side totals scan a vocab-sized frame, not the corpus
    val toks = staging(df.select(col(idCol), explode(split(col(textCol), " ")).as("tok")))
    val vocab = staging(toks.groupBy("tok").agg(count(lit(1)).as("cnt")))
    val totals = vocab.agg(sum("cnt").as("n_total"),
      count(lit(1)).as("n_vocab")).head()
    val (nTotal, nVocab) = (totals.getLong(0), totals.getLong(1))
    toks.join(vocab, Seq("tok"))
      .withColumn("nll",
        -log(2.0, (col("cnt") + 1).cast("double") / lit((nTotal + nVocab).toDouble)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        avg(col("nll")).as("avg_nll"))
  }

  /** Bigram language-model perplexity — the conditional upgrade of
    * [[unigramNll]] (KenLM-style filters start at n=2): score every
    * document by mean −log2 p(w2 | w1) with add-one smoothing,
    * p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V). Low-entropy boilerplate
    * scores LOW (its transitions are predictable); gibberish scores
    * high even when its unigrams look normal — the failure mode the
    * unigram gate cannot see.
    *
    * Scale shape, all map-side combinable: one bigram-key shuffle (the
    * LM fit), one unigram-key shuffle (the context counts), then the
    * per-doc re-join of both count tables and one doc-key aggregate —
    * the same linear join-chain as TF-IDF/BM25, one join deeper. Fit
    * tables are vocabulary-sized. Docs with fewer than two tokens have
    * no bigrams and are not emitted (inner-join semantics, mirrored by
    * the oracle). */
  def bigramNll(df: DataFrame, idCol: String, textCol: String,
                staging: Staging.Mode = Staging.Local): DataFrame = {
    // tokenized corpus staged once (it feeds the bigram explode AND the
    // unigram context counts); the exploded bigram frame staged once (it
    // feeds the LM fit AND the probe side of the scoring join); V derives
    // from the staged vocab counts — one corpus scan end to end
    val base = staging(df.select(col(idCol), split(col(textCol), " ").as("__toks"))
      .withColumn("__m", size(col("__toks"))))
    val bi0 = base.filter(col("__m") >= 2)
      .select(col(idCol), explode(expr(
        """transform(sequence(1, __m - 1),
             i -> struct(element_at(__toks, i) AS w1,
                         concat_ws(' ', element_at(__toks, i), element_at(__toks, i + 1)) AS bg))"""))
        .as("__p"))
      .select(col(idCol), col("__p.w1").as("w1"), col("__p.bg").as("bg"))
    val bi = staging(bi0)
    val bgCounts = bi.groupBy("bg").agg(count(lit(1)).as("c_bg"))
    val uniCounts = staging(base
      .select(explode(col("__toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c_w1")))
    val v = uniCounts.count()
    bi.join(bgCounts, Seq("bg"))
      .join(uniCounts, Seq("w1"))
      .withColumn("__nll", -log(2.0,
        (col("c_bg") + 1).cast("double") / (col("c_w1") + lit(v)).cast("double")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        avg(col("__nll")).as("avg_nll"))
  }

  /** Per-source distribution divergence — KL(P_source ‖ P_corpus) over
    * unigram distributions: the domain-shift / outlier-source detector a
    * curation stack runs before mixing sources (a source whose token
    * distribution diverges hard from the corpus is boilerplate, spam, or
    * mislabeled-language). KL needs no smoothing here because
    * support(P_s) ⊆ support(P_corpus) by construction.
    *
    * Scale shape: ONE corpus scan into a (source, token) count aggregate
    * (map-side combined), checkpointed; everything downstream — the
    * global token counts, the per-source totals, the final join +
    * source aggregate — runs over that distinct-pair frame, which is
    * vocabulary-sized, not corpus-sized. KL is factored as
    * (1/n_s)·Σ c_st·ln(c_st·N / (c_t·n_s)) so both engines evaluate the
    * identical double op tree per term; callers round (summation order
    * ulps are real but ~1e-13 relative). */
  def sourceDivergence(df: DataFrame, keyCol: String, textCol: String,
                       staging: Staging.Mode = Staging.Local): DataFrame = {
    val st = staging(df.select(col(keyCol), explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col(keyCol), col("tok")).agg(count(lit(1)).as("c_st")))
    val glob = st.groupBy("tok").agg(sum("c_st").as("c_t"))
    val srcTot = st.groupBy(col(keyCol)).agg(sum("c_st").as("n_s"))
    val n = st.agg(sum("c_st")).head().getLong(0)
    st.join(glob, Seq("tok"))
      .join(broadcast(srcTot), Seq(keyCol))
      .withColumn("__term", col("c_st") *
        log((col("c_st").cast("double") * lit(n.toDouble)) /
          (col("c_t").cast("double") * col("n_s").cast("double"))))
      .groupBy(col(keyCol))
      .agg(min("n_s").as("n_tokens"),
        (sum("__term") / min("n_s")).as("kl"))
  }

  /** Linear text-classifier INFERENCE with the hashing trick — the shape
    * of a fastText-style quality model scoring a 100-TB corpus
    * (Weinberger et al., "Feature Hashing for Large Scale Multitask
    * Learning", ICML 2009; Joulin et al., "Bag of Tricks for Efficient
    * Text Classification", 2016). Each token hashes to one of `dim`
    * buckets; the document score is the mean bucket weight; the gate
    * keeps score > 0. Pure per-row expression pipeline — no shuffle, no
    * UDF, no model object: the weight lookup is arithmetic on the bucket
    * id, so model inference IS a projection.
    *
    * Cross-engine determinism is the design constraint: the token hash
    * is positional-weighted ascii arithmetic over the first 8 hex chars
    * of md5(token) (both engines share md5/substring/ascii exactly), and
    * the "trained" weights are the Knuth multiplicative hash of the
    * bucket id mapped to [-0.5, 0.5) — every step exact integer or IEEE
    * double math a DuckDB oracle reproduces bit-for-bit. A real
    * deployment swaps `weightOf` for a broadcast weight-array lookup
    * (`element_at(typedlit(weights), bucket + 1)`) — same plan shape.
    *
    * Stages each array as a REAL column (one HOF evaluation each — the
    * q37 langid lesson). Returns (idCol, n_tokens, bucket_sum,
    * score, pred). bucket_sum is an exact-integer projection of every
    * token's bucket — any hash drift mismatches even if scores round the
    * same. */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
                        dim: Int = 4096): DataFrame = {
    // b(t) = (sum_{i=1..8} ascii(md5(t)[i]) * 31^(i-1)) mod dim
    val poly = (1 to 8).map { i =>
      val pow = Seq.fill(i - 1)(31L).foldLeft(1L)(_ * _)
      s"ascii(substring(h, $i, 1)) * ${pow}L"
    }.mkString(" + ")
    df.withColumn("__toks", split(col(textCol), " "))
      .withColumn("__bs", expr(
        s"transform(transform(__toks, t -> md5(t)), h -> ($poly) % $dim)"))
      .withColumn("__ws", expr(
        // w(b) = knuth(b+1) / 2^32 - 0.5  in [-0.5, 0.5)
        """transform(__bs, b -> ((b + 1) * 2654435761L) % 4294967296L
             / 4294967296.0D - 0.5D)"""))
      .select(col(idCol),
        size(col("__toks")).as("n_tokens"),
        expr("aggregate(__bs, 0L, (a, b) -> a + b)").as("bucket_sum"),
        expr("aggregate(__ws, 0D, (a, w) -> a + w)")
          .divide(size(col("__toks"))).as("score"))
      .withColumn("pred", when(col("score") > 0, lit("keep")).otherwise(lit("drop")))
  }

  /** A small frozen demonstration vocabulary for [[subwordTokenCount]] —
    * common English subword pieces, maxPieceLen 4. A real deployment
    * passes its tokenizer's piece list instead (50k+ pieces ride as one
    * referenced HashSet per task — see [[graft.functions.BpeCount]]);
    * the demo set exists so catalog rows and specs pin the greedy
    * longest-match semantics with an oracle-replayable literal. */
  val demoBpeVocab: Seq[String] = Seq(
    "the", "tion", "ing", "ment", "ness", "able", "ers", "est",
    "ed", "er", "es", "re", "in", "on", "at", "en", "an", "or",
    "ar", "al", "st", "th", "te", "ti", "nd", "to", "it", "is",
    "ou", "of", "and", "ent", "ion", "for", "pro", "con", "com",
    "qu", "ch", "sh", "wh", "ll", "ss", "ee", "oo")

  /** Frozen-vocab GREEDY-LONGEST-MATCH subword token count per document
    * — the WordPiece/SentencePiece serving-side unit, the twin of the
    * whitespace `n_tokens` every budget in the engine otherwise uses.
    * NOT merge-order BPE: a GPT-2/tiktoken-style merge-list tokenizer
    * segments differently (see [[mergeTokenCount]], and q131 for a
    * pinned fixture where the counts disagree) — pick the variant your
    * real tokenizer uses. Pure projection (one codegen'd kernel call
    * per row, no shuffle, no UDF); feed the output column to
    * [[Sampling.mixtureSample]]/[[Sampling.unimaxSample]] as `massCol`
    * or to [[Packing]] as the size column to budget in subword units.
    * Semantics and the engine-parity contract: [[graft.functions.BpeKernel]]. */
  def subwordTokenCount(df: DataFrame, idCol: String, textCol: String,
                        vocab: Seq[String] = demoBpeVocab,
                        out: String = "bpe_tokens"): DataFrame =
    df.withColumn(out,
      graft.functions.BpeExpression.bpeCount(col(textCol), vocab))

  /** A small frozen demonstration MERGE LIST for [[mergeTokenCount]] —
    * rank-ordered, consistent (every side is a single codepoint or an
    * earlier rule's output, which [[graft.functions.BpeMergeCount]]
    * enforces). Its output pieces double as the greedy vocabulary in
    * q131's greedy-vs-merge-order comparison, so both countings run
    * over the same piece inventory and any count difference is pure
    * SEMANTICS, not vocabulary. */
  val demoBpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("i", "n"), ("th", "e"), ("in", "g"), ("e", "r"),
    ("o", "n"), ("a", "n"), ("e", "s"), ("t", "i"), ("ti", "on"),
    ("e", "d"), ("o", "r"), ("a", "l"), ("s", "t"), ("a", "r"), ("o", "u"))

  /** MERGE-ORDER BPE token count per document — the GPT-2/tiktoken
    * semantics ([[graft.functions.BpeMergeKernel]]): per word, start
    * from single codepoints and repeatedly apply the lowest-ranked
    * merge rule present, merging all disjoint occurrences per round.
    * Same execution shape as [[subwordTokenCount]]: one codegen'd
    * kernel call per row, rule table as one referenced HashMap per
    * task, no shuffle, no UDF. Budget mixtures in these units when the
    * deployment's tokenizer is a merge-list one (q133). */
  def mergeTokenCount(df: DataFrame, idCol: String, textCol: String,
                      merges: Seq[(String, String)] = demoBpeMerges,
                      out: String = "bpe_tokens"): DataFrame =
    df.withColumn(out,
      graft.functions.BpeExpression.bpeMergeCount(col(textCol), merges))

  /** Demonstration BYTE-LEVEL merge list for [[byteMergeTokenCount]]:
    * [[demoBpeMerges]] (single ASCII chars are single bytes, so the
    * list stays consistent) prefixed by two SPACE-side rules — the
    * " the"-style pieces that only exist at byte level, where the
    * space byte is a mergeable symbol instead of a discarded
    * delimiter. */
  val demoByteMerges: Seq[(String, String)] =
    Seq((" ", "t"), (" ", "a")) ++ demoBpeMerges

  /** BYTE-LEVEL merge-order BPE token count with the GPT-2
    * pre-tokenizer (round 16) — the tiktoken-fidelity twin of
    * [[mergeTokenCount]]: contractions split off ([don]['t]),
    * punctuation runs become their own pretokens, a mid-text word
    * carries its leading space (so space bytes are counted and
    * mergeable — the " the" pieces), and every pretoken starts as
    * UTF-8 BYTES ("café" = 5 symbols; no out-of-alphabet chars).
    * Same execution shape as the siblings: one codegen'd kernel call
    * per row, rule table as one referenced HashMap per task, no
    * shuffle, no UDF. Counts provably differ from the
    * whitespace-split [[mergeTokenCount]] (q140 pins a fixture, both
    * DuckDB-oracled — the pre-tokenizer regex is RE2-expressible);
    * budget mixtures in THESE units when the deployment tokenizer is
    * GPT-2/tiktoken-class. Full semantics:
    * [[graft.functions.BpeBytePretokKernel]]. */
  def byteMergeTokenCount(df: DataFrame, idCol: String, textCol: String,
                          merges: Seq[(String, String)] = demoByteMerges,
                          out: String = "bpe_tokens"): DataFrame =
    df.withColumn(out,
      graft.functions.BpeExpression.bpeBytePretokCount(col(textCol), merges))

  /** DISTRIBUTED BPE vocabulary training (round 15) — learn a
    * merge-rank list from the corpus itself, the Sennrich et al. 2016
    * procedure re-expressed as k bounded Spark rounds:
    *
    *   1. ONE corpus-sized pass folds the corpus to its WORD-TYPE
    *      frequency table (`groupBy(word).count` — the only shuffle
    *      that scales with data volume; everything after is
    *      O(word types), which a frequency floor `minWordFreq` bounds
    *      at 100 TB where the type table itself gets heavy with
    *      typos/URLs — the standard trainer discipline).
    *   2. Each of the ≤ `numMerges` rounds: extract adjacent symbol
    *      pairs from every type (weighted by type frequency, one
    *      count per adjacent position), aggregate, take the
    *      (count desc, pair asc) argmax — a ONE-ROW collect — and
    *      apply the winning rule to every type via a literal
    *      `replace` over the delimiter-wrapped symbol string (each
    *      symbol wrapped `<s>`, so the pattern `<a><b>` → `<ab>`
    *      matches exactly at symbol boundaries and one left-to-right
    *      pass merges every disjoint occurrence — the same sweep the
    *      encode kernel does). The per-round frame is
    *      localCheckpoint'd: lineage stays flat across rounds.
    *   3. Stop early when the best pair's count drops below
    *      `minFreq`.
    *
    * Returns the learned rules in rank order with their winning
    * counts — feed `.map(m => (m._1, m._2))` straight to
    * [[mergeTokenCount]]. DuckDB-oracled end-to-end in q132 (the
    * k-unrolled-rounds pattern); symbols never contain the `<`/`>`
    * delimiters or spaces because words are space-split and the
    * delimiters are excluded from the corpus (loudly, not silently).
    *
    * Round budget: merges are INHERENTLY sequential (rule k+1's pair
    * statistics depend on rule k having been applied — batching
    * would change the learned list), so training runs one small Spark
    * round plus a one-row collect per merge. Each round is O(word
    * types) — independent of corpus size after pass 1 — and peak
    * cached footprint is two copies of the types table (the previous
    * round's frame is unpersisted as soon as the next settles). A
    * GPT-2-scale 50k-rule vocabulary is therefore 50k short driver
    * round-trips: fine on a warm cluster (the trainer wall is flat in
    * corpus size, BASELINE.md round-15 BPE rungs), but budget wall-clock
    * accordingly — the
    * heavy lifting at 100 TB is pass 1, never the rounds. */
  def trainBpeMerges(df: DataFrame, textCol: String, numMerges: Int,
                     minFreq: Long = 2L,
                     minWordFreq: Long = 1L,
                     byteLevel: Boolean = false): Seq[(String, String, Long)] = {
    require(numMerges >= 1, s"numMerges must be >= 1: $numMerges")
    val bad = df.filter(col(textCol).contains("<") || col(textCol).contains(">") ||
        (if (byteLevel) col(textCol).contains("\u0001") else lit(false)))
      .limit(1).count()
    require(bad == 0,
      "trainBpeMerges uses '<'/'>' as symbol delimiters (and \\u0001 as " +
        "the byte-level pair separator); the corpus contains them — " +
        "pre-scrub the text or remap the delimiters")
    // Lineage-flattening WITHOUT localCheckpoint (round-15 advisory:
    // eager localCheckpoint per round leaves every round's copy of the
    // types table cached until session end — O(numMerges) copies).
    // Materialize each round through a persisted Row RDD we hold a
    // handle to and unpersist the previous round's copy, so peak
    // footprint is two copies of the (already frequency-floored) types
    // table regardless of round count.
    var held: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
    def settle(frame: DataFrame): DataFrame = {
      val rdd = frame.rdd.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.count()
      val out = frame.sparkSession.createDataFrame(rdd, frame.schema)
      held.foreach(_.unpersist(blocking = false))
      held = Some(rdd)
      out
    }
    // BYTE LEVEL (round 16): pretokenize with the GPT-2 regex instead
    // of the whitespace split (contractions, punctuation runs,
    // space-prefixed words) and start each pretoken as one symbol per
    // UTF-8 BYTE (latin-1 char of the byte, via the hex projection) —
    // the trainer then learns space-prefixed and punctuation pieces
    // exactly like a GPT-2-class trainer. Pair strings join on \u0001
    // there (byte symbols may contain spaces); ties still break on
    // (count desc, pair asc) over the joined string.
    val words =
      if (byteLevel)
        df.select(explode(regexp_extract_all(col(textCol),
          lit(graft.functions.BpeBytePretokKernel.PretokPattern), lit(0))).as("__w"))
      else df.select(explode(split(col(textCol), " ")).as("__w"))
    val wrapExpr =
      if (byteLevel) expr(
        """array_join(transform(sequence(1, length(hex(encode(__w, 'UTF-8'))) DIV 2),
             i -> concat('<', char(conv(substring(hex(encode(__w, 'UTF-8')), 2*i - 1, 2), 16, 10)), '>')), '')""")
      else expr(
        """array_join(transform(sequence(1, length(__w)),
             i -> concat('<', substring(__w, i, 1), '>')), '')""")
    var types = settle(words
      .filter(length(col("__w")) > 0)
      .groupBy("__w").agg(count(lit(1)).as("__f"))
      .filter(col("__f") >= minWordFreq)
      .select(col("__f"), wrapExpr.as("__ws")))
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    var r = 0
    var done = false
    while (r < numMerges && !done) {
      val pairSepSql = if (byteLevel) "char(1)" else "' '"
      val winner = types
        .select(col("__f"), expr(
          "split(substring(__ws, 2, length(__ws) - 2), '><')").as("__syms"))
        .filter(size(col("__syms")) >= 2)
        .select(col("__f"), explode(expr(
          s"""transform(sequence(1, size(__syms) - 1),
               i -> concat(element_at(__syms, i), $pairSepSql, element_at(__syms, i + 1)))"""))
          .as("__pr"))
        .groupBy("__pr").agg(sum("__f").as("__c"))
        .orderBy(desc("__c"), asc("__pr")).limit(1).collect()
      if (winner.isEmpty || winner.head.getLong(1) < minFreq) done = true
      else {
        val pr = winner.head.getString(0)
        val c = winner.head.getLong(1)
        val sp = pr.indexOf(if (byteLevel) '\u0001' else ' ')
        val (a, b) = (pr.substring(0, sp), pr.substring(sp + 1))
        merges += ((a, b, c))
        types = settle(types.select(col("__f"),
          replace(col("__ws"), lit(s"<$a><$b>"), lit(s"<${a}$b>")).as("__ws")))
        r += 1
      }
    }
    held.foreach(_.unpersist(blocking = false))
    merges.toSeq
  }
}
