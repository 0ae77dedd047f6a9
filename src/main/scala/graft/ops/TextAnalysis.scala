package graft.ops

import graft.functions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators over a document table: token statistics, quality
  * scoring, language identification, and content fingerprinting. Everything is
  * a narrow per-row projection of built-in expressions — no shuffle, no UDF —
  * so these run at scan speed over 100 TB and fuse into one codegen stage
  * with the parquet read.
  */
object TextAnalysis {

  /** Small per-language stopword lists for the n-gram/stopword language
    * heuristic. Deliberately tiny: the signal is the *ratio* of hits, and at
    * scan speed a 20-word list beats a model we can't ship.
    */
  private[graft] val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "was",
      "for", "on", "with", "as", "at", "by", "this", "be", "are", "or"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "una", "los", "las",
      "se", "del", "por", "con", "no", "para", "es", "al", "lo", "como"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "im",
      "für", "auf", "des", "ein", "eine", "nicht", "auch", "sich", "es", "zu", "dem"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "du", "que",
      "est", "en", "qui", "dans", "pour", "pas", "sur", "au", "ne", "ce"),
  )

  private def stopwordHitsArr(toks: Column, lang: String): Column =
    org.apache.spark.sql.graft.CountInSet(toks, stopwords(lang))

  /** Token statistics: whitespace tokens, a BPE-ish regex token count
    * (word pieces + digit runs + single punctuation marks — the classic
    * pre-tokenizer shape), char counts, distinct tokens, average token
    * length. Integer-valued so cross-engine comparison is exact.
    */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    df.select(
      col(idCol),
      length(t).as("n_chars"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct_tokens"),
      size(regexp_extract_all(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
        .as("n_bpe_tokens"),
      size(filter(toks, tk => length(tk) >= 4)).as("n_long_tokens"))
  }

  /** Quality signals as exact integer counts plus a composite score in [0,1].
    * Components (each a scan-speed expression):
    *  - length signal: docs under ~20 tokens are low-quality;
    *  - punctuation ratio: mostly-symbol text is markup/noise;
    *  - repetition: low distinct-token ratio means boilerplate/spam;
    *  - stopword presence: natural language has function words.
    */
  def qualityScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    // Staged projections (the interpreted-HOF discipline, SURVEY §3): the
    // token array materializes ONCE, then the integer counts, then the score
    // arithmetic. Inlined, the tokenizer would re-split the text at every
    // reference (~6x/row) and `filter`'s lambda runs interpreted either way —
    // multiple references to the aliases also keep CollapseProject from
    // fusing the stages back together.
    val allStops = stopwords.values.flatten.toSeq.distinct
    val counts = df
      .select(col(idCol) +: keep.map(col) :+ col(textCol).as("_t") :+
        tokens(col(textCol)).as("_toks"): _*)
      .select(col(idCol) +: keep.map(col) :+
        size(col("_toks")).as("n_tokens") :+
        org.apache.spark.sql.graft.CountInSet(col("_toks"), allStops)
          .as("n_stopwords") :+
        size(regexp_extract_all(col("_t"), lit("[^A-Za-z0-9\\s]"), lit(0))).as("n_punct") :+
        size(array_distinct(col("_toks"))).as("n_distinct_tokens") :+
        length(col("_t")).as("_n_chars"): _*)
    val nTok = col("n_tokens").cast("double")
    val lengthSignal = least(nTok / 20.0, lit(1.0))
    val punctSignal = lit(1.0) -
      least(col("n_punct") / greatest(col("_n_chars").cast("double"), lit(1.0)) * 4.0, lit(1.0))
    val repSignal = col("n_distinct_tokens") / greatest(nTok, lit(1.0))
    val stopSignal = least(col("n_stopwords") / greatest(nTok, lit(1.0)) * 5.0, lit(1.0))
    counts.select(
      col(idCol) +: keep.map(col) :+
        col("n_tokens") :+ col("n_stopwords") :+ col("n_punct") :+
        col("n_distinct_tokens") :+
        round(lengthSignal * 0.25 + punctSignal * 0.25 + repSignal * 0.25 + stopSignal * 0.25, 6)
          .as("quality_score"): _*)
  }

  /** Language ID by stopword-hit ratio per language; `und` when nothing hits.
    * Returns (id, lang, confidence). A char-n-gram profile would need a
    * trained table; stopword ratio is the shippable scan-speed heuristic.
    */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Staged projections (SURVEY §3): tokens materialize once, then the five
    // per-language hit counts, then the argmax — inlined, the tokenizer would
    // re-split the text at every one of its ~11 references, and `best` (a
    // greatest() over structs) would re-run every interpreted stopword filter
    // for each of its three references below.
    val langs = stopwords.keys.toSeq.sorted
    val counts = df
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol) +: size(col("_toks")).as("_n") +:
        langs.map(l => stopwordHitsArr(col("_toks"), l).as(s"_h_$l")): _*)
    val scores = langs.map { lang =>
      struct(
        (col(s"_h_$lang").cast("double") /
          greatest(col("_n").cast("double"), lit(1.0))).as("score"),
        lit(lang).as("lang"))
    }
    val withBest = counts.select(col(idCol), greatest(scores: _*).as("_best"))
    withBest.select(
      col(idCol),
      when(col("_best.score") > 0d, col("_best.lang")).otherwise(lit("und")).as("lang"),
      round(col("_best.score"), 6).as("confidence"))
  }

  /** Lowercased ASCII-letter character tokens — the [[languageIdModel]]
    * substrate. Regex-only by design (the extract_html discipline): lowercase
    * + trim, strip everything outside `[a-z]`, then break into single-char
    * tokens by inserting a space after every character — both engines replay
    * the identical chain, so the oracle needs no char-iteration UDF.
    */
  private def charTokens(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    tokens(regexp_replace(regexp_replace(lower(trim(c)), "[^a-z]+", ""), "(.)", "$1 "))

  /** TRAINED language ID — the honest upgrade of [[languageId]]'s stopword
    * heuristic: a per-language character-bigram LM with add-one smoothing,
    * the [[lmScore]] machinery generalized to k languages and char grams
    * (Cavnar–Trenkle n-gram profiles recast in the fixed-point lane). Every
    * per-gram probability is the integer
    * `q = ((c_pair + 1) · 2^20) div (c_prefix + V_lang)` and scores
    * accumulate as exact longs, so ranking and ties are engine- and
    * partitioning-identical — the oracle replays train AND score hash-exact.
    *
    * Output: `(id, lang, n_bigrams, score_sum)` — the argmax language
    * (ties → lexicographically first), `und` for docs with no char bigrams
    * (never a fabricated language).
    *
    * Shape at 100 TB: the labeled train corpus aggregates to per-language
    * pair/prefix/vocab tables — char-bigram-domain-sized (≤ 26² per
    * language), the most broadcastable model in the repo — and the scored
    * corpus aggregates per-doc DISTINCT pairs first (one keyed exchange over
    * narrow (id, 3-char pair) rows), so the ×k language expansion multiplies
    * the compressed pair counts, never the raw char stream. `minCount`
    * prunes the pair table with prefix mass and V computed BEFORE pruning
    * (the lmScore contract: smoothing denominators never shift).
    */
  def languageIdModel(
      train: DataFrame,
      langCol: String,
      trainTextCol: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    import org.apache.spark.sql.graft.WordPairs
    val labeled = train.filter(col(langCol).isNotNull)
    // empty-train degrade (the EmptyInputSpec family contract): with no
    // labeled languages the ×k expansion would be ×0 and every doc would
    // VANISH — a model with nothing to say must say 'und' for every doc,
    // never delete the corpus. One 1-row driver probe, train-side only.
    if (labeled.isEmpty)
      return docs.select(col(idCol).as("id"), lit("und").as("lang"),
        lit(0L).as("n_bigrams"), lit(0L).as("score_sum"))
    // one labeled-corpus scan for pair counts, checkpointed once — pair
    // table and prefix masses branch from it (the lmScore discipline); the
    // vocabulary sizes are the documented second scan
    // char-bigram extraction is per-row heavy (tokenize + pair strings per
    // document): spread the narrow (lang, text) projection so a
    // single-split scan doesn't run the whole pass on one core (no-op on
    // any multi-split scan — Par.spread; measured r20: the three
    // single-task corpus passes were 2.9 s of this query's 3.7 s)
    val trainPairs = Par.spread(labeled.select(col(langCol).as("_lang"),
        col(trainTextCol).as("_tt")))
      .select(col("_lang"),
        explode(WordPairs(charTokens(col("_tt")), 1)).as("pair"))
      .groupBy(col("_lang"), col("pair")).agg(count(lit(1)).as("c_pair"))
      .localCheckpoint()
    val prefixCounts = trainPairs
      .withColumn("c1", split(col("pair"), " ").getItem(0))
      .groupBy(col("_lang"), col("c1")).agg(sum(col("c_pair")).as("c_prefix"))
    val pairTable = trainPairs.filter(col("c_pair") >= minCount)
      .select(col("_lang"), col("pair"), col("c_pair"))
    val langTable = Par.spread(labeled
        .select(col(langCol).as("_lang"), col(trainTextCol).as("_tt")))
      .select(col("_lang"), explode(charTokens(col("_tt"))).as("_ch"))
      .groupBy(col("_lang"))
      .agg(greatest(count_distinct(col("_ch")), lit(1L)).as("v_size"))
    // doc side: compress to per-(id, pair) counts BEFORE the ×k expansion;
    // explode_outer keeps sub-2-char docs alive for their 'und' row
    val docPairs = Par.spread(docs
        .select(col(idCol).as("id"), col(textCol).as("_tt")))
      .select(col("id"),
        explode_outer(WordPairs(charTokens(col("_tt")), 1)).as("pair"))
      .groupBy(col("id"), col("pair")).agg(count(col("pair")).as("c_doc"))
    val scored = docPairs
      // k-row language table: the 1-row scalar-attach idiom at k rows —
      // a broadcast nested loop that runs once per partition
      .crossJoin(broadcast(langTable))
      .withColumn("c1", split(col("pair"), " ").getItem(0))
      .join(broadcast(pairTable), Seq("_lang", "pair"), "left")
      .join(broadcast(prefixCounts), Seq("_lang", "c1"), "left")
      .withColumn("q", when(col("pair").isNull, lit(null)).otherwise(
        col("c_doc") *
          expr("((coalesce(c_pair, 0L) + 1L) * 1048576L)" +
            " div (coalesce(c_prefix, 0L) + v_size)")))
      .groupBy(col("id"), col("_lang"))
      .agg(
        coalesce(sum(when(col("pair").isNotNull, col("c_doc"))), lit(0L)).as("n_bigrams"),
        coalesce(sum(col("q")), lit(0L)).as("score_sum"))
    scored
      .groupBy(col("id"))
      .agg(min(struct((-col("score_sum")).as("_neg"), col("_lang").as("_l"),
        col("n_bigrams").as("_nb"), col("score_sum").as("_ss"))).as("_best"))
      .select(col("id"),
        when(col("_best._nb") === 0L, lit("und")).otherwise(col("_best._l")).as("lang"),
        col("_best._nb").as("n_bigrams"),
        col("_best._ss").as("score_sum"))
  }

  /** Sequence packing for LLM training: documents are concatenated in a
    * deterministic order and cut into fixed token-budget bins — each doc gets
    * its running start offset and bin id (`floor(start / budget)`), the
    * standard concatenate-then-chunk shape. Packing runs independently per
    * `partitionKey` group (e.g. source shard), so each group's window sorts
    * locally and the operator parallelizes across groups — a global ordering
    * would serialize through one partition at 100 TB.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tokenBudget: Int,
      partitionKey: String): DataFrame = {
    // explicit ROWS frame: the default RANGE frame makes duplicate-id rows
    // peers sharing one cumulative sum — overlapping start_offsets; with
    // ROWS each row gets its own running total (ids SHOULD be unique, but
    // a dup must not silently overlap two documents in a bin)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partitionKey)).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val nTok = size(tokens(col(textCol)))
    df.select(col(partitionKey), col(idCol), nTok.as("n_tokens"))
      .withColumn("start_offset",
        coalesce(sum(col("n_tokens")).over(w) - col("n_tokens"), lit(0L)))
      .withColumn("bin", floor(col("start_offset") / tokenBudget))
      .select(col(partitionKey), col(idCol), col("n_tokens"),
        col("start_offset"), col("bin"))
  }

  /** Corpus n-gram statistics: the `topK` word n-grams by total occurrences
    * (ties broken by the gram string, so the cut is deterministic), with
    * document frequency. Exploded shape — one narrow (id, gram) stream into a
    * codegen'd hash aggregation; the top-k is a TakeOrdered, not a global
    * sort.
    */
  def ngramStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      topK: Int): DataFrame = {
    val ex = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
      .select(col("id"), explode(shinglesFromTokens(col("_toks"), n)).as("ngram"))
    ex.groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("ngram"))
      .limit(topK)
  }

  /** Fixed-token-window document chunking with stride (the pretraining / RAG
    * "split long docs" primitive): each doc becomes `ceil(n_tokens / stride)`
    * chunks of up to `chunkTokens` whitespace tokens, chunk `i` starting at
    * token `i * stride` (stride < chunkTokens ⇒ overlapping windows).
    * Token-empty docs produce no chunks. Output: (id, chunk_id, chunk_text,
    * n_chunk_tokens).
    *
    * Pure per-row projection + posexplode: no shuffle at any scale — chunking
    * 100 TB is exactly one scan-speed pass. Tokens materialize once per row
    * (SURVEY §3 interpreted-HOF discipline) and each chunk is a slice of that
    * array, never a re-tokenize.
    */
  def chunkDocuments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      stride: Int): DataFrame = {
    require(chunkTokens > 0 && stride > 0, "chunkTokens and stride must be positive")
    val chunks = transform(
      sequence(lit(0), size(col("_toks")) - 1, lit(stride)),
      s => struct(
        concat_ws(" ", slice(col("_toks"), s + 1, lit(chunkTokens))).as("chunk_text"),
        least(lit(chunkTokens), size(col("_toks")) - s).as("n_chunk_tokens")))
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) > 0)
      .select(col("id"), posexplode(chunks).as(Seq("chunk_id", "_c")))
      .select(col("id"), col("chunk_id"),
        col("_c.chunk_text").as("chunk_text"),
        col("_c.n_chunk_tokens").as("n_chunk_tokens"))
  }

  /** Per-document LANGUAGE CONSISTENCY — mixed-language detection, the
    * multilingual curation gate between document-level language ID and a
    * monolingual training mix: a doc that identifies as English overall but
    * carries a German boilerplate block or a pasted foreign passage
    * pollutes a monolingual corpus in a way one whole-doc label can't see.
    * The doc splits into fixed non-overlapping `chunkTokens` chunks
    * ([[chunkDocuments]] at stride = chunk), each chunk language-IDs
    * independently ([[languageId]]'s stopword vote — chunk-level, where a
    * short foreign block is the MAJORITY of its own chunk instead of noise
    * in the doc vote), and the per-doc report aggregates: chunk count,
    * distinct identified languages (`und` — no evidence — never counts as
    * a language), the majority language under the `(count DESC, lang ASC)`
    * winner, its chunk share as integral ppm, and the `mixed` flag
    * (≥ 2 real languages). Token-empty docs emit nothing (no chunks — the
    * chunkDocuments contract).
    *
    * Shape at 100 TB: chunking and per-chunk scoring are scan-speed
    * projections (staged — the languageId discipline); ONE (id, lang)
    * aggregation then one per-id aggregation, both map-side-combining
    * narrow rows.
    */
  def languageConsistency(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 50): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    val chunks = chunkDocuments(df, idCol, textCol, chunkTokens,
      stride = chunkTokens)
      .select(struct(col("id"), col("chunk_id")).as("_key"),
        col("chunk_text"))
    val lid = languageId(chunks, "_key", "chunk_text")
      .select(col("_key.id").as("id"), col("lang"))
    lid.groupBy(col("id"), col("lang")).agg(count(lit(1)).as("_c"))
      .groupBy(col("id"))
      .agg(sum(col("_c")).as("n_chunks"),
        sum(when(col("lang") =!= "und", 1L).otherwise(0L)).as("n_langs"),
        min(struct((-col("_c")).as("_nc"), col("lang").as("_l"))).as("_top"))
      .withColumn("top_lang", col("_top._l"))
      .withColumn("top_lang_chunk_ppm",
        expr("(-_top._nc) * 1000000 div n_chunks"))
      .withColumn("mixed", col("n_langs") > 1)
      .select(col("id"), col("n_chunks"), col("n_langs"), col("top_lang"),
        col("top_lang_chunk_ppm"), col("mixed"))
  }

  /** Corpus-frequency document scoring (OOV / rare-token filtering): for each
    * doc, how many of its tokens have a CORPUS-WIDE occurrence count of at
    * most `maxCount`. A high rare fraction means gibberish, mojibake, or
    * heavy named-entity soup — the cheap two-pass stand-in for LM-perplexity
    * filtering (integer-exact, unlike a log-prob sum, so the oracle can hash
    * it). Output: (id, n_tokens, n_rare_tokens, rare_fraction); token-empty
    * docs stay with zeros.
    *
    * Shape: the exploded (id, token) stream is checkpointed once and feeds
    * (a) the global vocabulary count — one codegen'd hash agg — and (b) the
    * join back against the rare subset of that vocabulary; then one
    * re-aggregation by id. Three hash-partition exchanges of narrow rows
    * total, no row wider than (long, string) anywhere.
    */
  def rareTokenStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxCount: Long): DataFrame = {
    val ex = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
      .select(col("id"), explode_outer(col("_toks")).as("tok"))
      .localCheckpoint(false) // reused by the vocab agg and the join side
    val rare = ex.filter(col("tok").isNotNull)
      .groupBy(col("tok")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") <= maxCount)
      .select(col("tok"), lit(1).as("_rare"))
    ex.join(rare, Seq("tok"), "left")
      .groupBy(col("id"))
      .agg(count(col("tok")).as("n_tokens"),
        sum(coalesce(col("_rare"), lit(0))).cast("long").as("n_rare_tokens"))
      .select(col("id"), col("n_tokens"), col("n_rare_tokens"),
        round(col("n_rare_tokens") /
          greatest(col("n_tokens").cast("double"), lit(1.0)), 6).as("rare_fraction"))
  }

  /** Gopher-style intra-document repetition statistic: the most frequent word
    * `n`-gram of each doc (counting repeats, unlike the dedup shingle sets),
    * its occurrence count, and the fraction of the doc's characters its
    * occurrences cover — high fraction ⇒ boilerplate/spam (the "fraction of
    * chars in top n-gram" rule from the Gopher data pipeline). Ties break to
    * the lexicographically greatest gram so the pick is deterministic in any
    * engine. Docs with fewer than `n` tokens get their whole-doc gram.
    *
    * Shape: explode → per-(id, gram) codegen count (map-side partial) → one
    * arg-max per id (`max(struct(count, gram))`, single shuffle each) — never
    * a per-doc sort.
    */
  def topNgramStats(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val grams = df
      .select(col(idCol).as("id"), length(col(textCol)).as("n_chars"),
        tokens(col(textCol)).as("_toks"))
      .select(col("id"), col("n_chars"),
        explode(shinglesFromTokens(col("_toks"), n)).as("gram"))
    grams
      .groupBy(col("id"), col("n_chars"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("id"), col("n_chars"))
      .agg(max(struct(col("cnt"), col("gram"))).as("_top"),
        sum(col("cnt")).as("n_grams"))
      .select(col("id"),
        col("_top.gram").as("top_ngram"),
        col("_top.cnt").as("top_count"),
        col("n_grams"),
        round(col("_top.cnt") * length(col("_top.gram")) /
          greatest(col("n_chars").cast("double"), lit(1.0)), 6).as("top_char_fraction"))
  }

  /** Conservative RE2-compatible PII patterns (no lookaround/backrefs, so the
    * same pattern runs in Java regex, RE2, and DuckDB identically; alternation
    * is leftmost-first in both engines, so counts and replacements agree).
    *
    * IPv4 octets are bounded to 0-255 (so `999.999.999.999` is not an IP).
    * Version-string quads glued to a word prefix (`v1.2.3.4`, `rel1.2.3.4`)
    * are NOT matched — the leading `\b` needs a word/non-word transition, and
    * none exists between `v` and `1`. A BARE dotted quad of in-range numbers
    * (`version 1.2.3.4`) is textually indistinguishable from an IP and IS
    * redacted — over-redaction is the intended trade for a PII scrubber.
    */
  private[graft] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val ipv4Octet = "(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)"
  private[graft] val ipv4Re = s"\\b$ipv4Octet(\\.$ipv4Octet){3}\\b"

  /** PII redaction: replace emails then IPv4 literals with placeholder tags,
    * reporting per-doc match counts and the md5 fingerprint of the redacted
    * text (the fingerprint keeps the oracle/diff cheap — no need to ship the
    * full redacted corpus to compare it). Pure per-row regex projection:
    * scan-speed, no shuffle.
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val emailRedacted = regexp_replace(t, emailRe, "<EMAIL>")
    val redacted = regexp_replace(emailRedacted, ipv4Re, "<IP>")
    df.select(
      col(idCol),
      regexp_count(t, lit(emailRe)).as("n_emails"),
      // count IPs on the email-redacted text — the string the replacement
      // actually runs on — so n_ips always equals the number of <IP> tags
      // (an IP inside an email, "1.2.3.4@x.com", is consumed by the email
      // pass and must not be double-counted)
      regexp_count(emailRedacted, lit(ipv4Re)).as("n_ips"),
      md5(redacted.cast("binary")).as("redacted_fp"))
  }

  /** v2 patterns, same RE2-compatible discipline as [[emailRe]]/[[ipv4Re]]
    * (no lookaround/backrefs; `\b`/`\d` are ASCII in both Java and RE2;
    * alternation is leftmost-first in both engines).
    *
    *  - IBAN-shaped: 2 uppercase country letters + 2 check digits + 11-30
    *    alphanumerics (total 15-34, the ISO 13616 length envelope), compact
    *    form. Shape-gated, not mod-97-validated — a scrubber over-redacts.
    *  - Phone: international `+CC ...` groups, `(415) 555-2671`, or the
    *    dashed US 3-3-4. The `+`/`(`/dash anchors keep bare digit runs
    *    (quantities, ids, card numbers) out of the phone pass.
    *  - Card candidate: 13-19 digits with optional single space/dash
    *    separators. A candidate is only REDACTED if its digits pass the
    *    Luhn checksum (pure integer arithmetic — engine-replayable);
    *    checksum rejects stay verbatim and are counted separately. Runs
    *    ≥20 digits never match (`\b` cannot fall mid-run), so long ids are
    *    structurally safe.
    */
  private[graft] val ibanRe = "\\b[A-Z]{2}\\d{2}[A-Z0-9]{11,30}\\b"
  private[graft] val phoneRe =
    "\\+[1-9]\\d{0,2}([ -]?\\d{2,4}){2,4}\\b|\\(\\d{3}\\) ?\\d{3}-\\d{4}|\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private[graft] val cardRe = "\\b\\d(?:[ -]?\\d){12,18}\\b"

  /** PII redaction v2 — [[redactPii]] plus the identifiers a release gate
    * actually checks: phone numbers, IBANs VALIDATED by the ISO 7064
    * mod-97 checksum, and payment-card numbers VALIDATED by the Luhn
    * checksum — shape alone is not identity: a 16-digit order id with a
    * failing check digit and an IBAN-shaped product code with the wrong
    * check pair must both survive (the oracle plants valid AND invalid
    * cases of each). Pass order: email → IBAN → phone → card → IPv4, each
    * category counted on the text the pass actually runs on (the
    * [[redactPii]] rule — no double counting across categories; phones
    * consume their digits before the card pass sees them).
    *
    * Both checksum passes stay in built-in, codegen'd functions
    * ([[checksumPass]]): `split` on the candidate pattern gives the n+1
    * around-texts, `regexp_extract_all` the n candidates, an integer
    * `aggregate` per candidate computes the checksum — Luhn's
    * right-anchored double-every-second digit sum; mod-97's rearranged
    * running remainder with A..Z as 10..35 — and a `zip_with`
    * re-interleaves parts with the tag or the rejected original. All
    * integer: DuckDB replays both checksums bit-for-bit. Output per doc:
    * id, `n_emails`, `n_ibans`, `n_ibans_rejected`, `n_phones`,
    * `n_cards`, `n_cards_rejected`, `n_ips`, `redacted_fp`.
    *
    * Shape at 100 TB: pure per-row projection — scan-speed, ZERO shuffle,
    * nothing but (id, counts, 32-hex fp) leaves the scan. Regex cost is
    * 5 passes + 2 extracts over each document, all in one codegen stage.
    */
  def redactPiiV2(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val luhnValid =
      "aggregate(sequence(1, length(s)), 0, (acc, i) -> acc + " +
        "CASE WHEN (length(s) - i) % 2 = 1 " +
        "THEN IF((ascii(substring(s, i, 1)) - 48) * 2 > 9, " +
        "(ascii(substring(s, i, 1)) - 48) * 2 - 9, " +
        "(ascii(substring(s, i, 1)) - 48) * 2) " +
        "ELSE ascii(substring(s, i, 1)) - 48 END) % 10 = 0"
    // ISO 13616/7064: move the country+check quad to the end, read A..Z as
    // 10..35, and the big decimal number mod 97 must be 1 — computed as a
    // left-to-right running remainder (×10 per digit, ×100 per letter), so
    // the accumulator never exceeds 97·100+35 and stays in an int
    val mod97Valid =
      "aggregate(sequence(1, length(s)), 0, (acc, i) -> " +
        "CASE WHEN substring(s, i, 1) >= '0' AND substring(s, i, 1) <= '9' " +
        "THEN (acc * 10 + ascii(substring(s, i, 1)) - 48) % 97 " +
        "ELSE (acc * 100 + ascii(substring(s, i, 1)) - 55) % 97 END) = 1"
    val staged = df.select(col(idCol), col(textCol).as("_pii_t0"))
      .withColumn("_pii_t1", regexp_replace(col("_pii_t0"), emailRe, "<EMAIL>"))
    val ibanPass = checksumPass(staged, "_pii_t1", "_pii_ib", ibanRe,
      normSql = "concat(substring(m, 5), substring(m, 1, 4))",
      validSql = mod97Valid, tag = "<IBAN>", textOut = "_pii_t2")
    val phoned = ibanPass
      .withColumn("_pii_t3", regexp_replace(col("_pii_t2"), phoneRe, "<PHONE>"))
    val cardPass = checksumPass(phoned, "_pii_t3", "_pii_cd", cardRe,
      normSql = "regexp_replace(m, '[ -]', '')",
      validSql = luhnValid, tag = "<CARD>", textOut = "_pii_t4")
    cardPass
      .withColumn("_pii_t5", regexp_replace(col("_pii_t4"), ipv4Re, "<IP>"))
      .select(
        col(idCol),
        regexp_count(col("_pii_t0"), lit(emailRe)).as("n_emails"),
        expr("size(filter(_pii_ib_ok, x -> x))").as("n_ibans"),
        expr("size(_pii_ib_ok) - size(filter(_pii_ib_ok, x -> x))")
          .as("n_ibans_rejected"),
        regexp_count(col("_pii_t2"), lit(phoneRe)).as("n_phones"),
        expr("size(filter(_pii_cd_ok, x -> x))").as("n_cards"),
        expr("size(_pii_cd_ok) - size(filter(_pii_cd_ok, x -> x))")
          .as("n_cards_rejected"),
        regexp_count(col("_pii_t4"), lit(ipv4Re)).as("n_ips"),
        md5(col("_pii_t5").cast("binary")).as("redacted_fp"))
  }

  /** One checksum-conditional redaction pass: extract candidates of
    * `pattern` from `textIn`, normalize each with `normSql` (an expression
    * over `m`), validate with `validSql` (a boolean over `s`), and rebuild
    * `textOut` with valid candidates replaced by `tag` and rejects kept
    * verbatim. Leaves `<prefix>_ok` (per-candidate verdicts, in order) for
    * the caller's counts. Pure built-ins — one codegen stage. */
  private def checksumPass(
      df: DataFrame, textIn: String, prefix: String, pattern: String,
      normSql: String, validSql: String, tag: String, textOut: String): DataFrame =
    df.withColumn(s"${prefix}_parts", split(col(textIn), pattern, -1))
      .withColumn(s"${prefix}_raw",
        regexp_extract_all(col(textIn), lit(pattern), lit(0)))
      .withColumn(s"${prefix}_ok",
        expr(s"transform(transform(${prefix}_raw, m -> $normSql), s -> $validSql)"))
      .withColumn(textOut,
        expr(s"array_join(zip_with(${prefix}_parts, " +
          s"zip_with(${prefix}_ok, ${prefix}_raw, (o, m) -> IF(o, '$tag', m)), " +
          "(p, m) -> concat(p, coalesce(m, ''))), '')"))

  /** Canonical text normalization (the step before any hash-keyed dedup or
    * tokenization): control characters (C0 + DEL) become spaces, ASCII
    * letters fold to lowercase via `translate` (an explicit 26-char map — NOT
    * locale/Unicode `lower()`, whose case tables can differ between engines
    * and versions; byte-deterministic beats marginally-more-correct for a
    * reproducibility key), space runs collapse to one, and the result is
    * trimmed. Pure per-row projection — scan speed, no shuffle — and every
    * step is a deterministic byte transform, so normalized text (and
    * anything keyed on it) is identical across engines.
    * Output: id, `text_norm`, `n_chars_norm`.
    */
  /** C4-style line-level filtering (Raffel et al.'s page cleaner, the rule
    * set every crawl pipeline applies between HTML extraction and document
    * dedup): a line survives iff it has at least `minLineTokens` whitespace
    * tokens, ends in terminal punctuation (`.` `!` `?` `"`) when
    * `requireTerminalPunct`, and contains none of `blockedSubstrings`
    * (case-insensitive; the C4 defaults target code fragments and
    * boilerplate notices). Empty lines are separators, not lines — they
    * drop before counting. Docs reassemble from surviving lines in order;
    * a fully-filtered doc keeps an empty string, never disappears. Output
    * matches the segment-cleaner family: (id, `text_kept`, `n_lines`,
    * `n_kept`).
    *
    * Shape at 100 TB: a doc's lines live in its own row, so this is a
    * ZERO-shuffle scan-speed projection (the [[graft.ops.Dedup.dedupWithinDoc]]
    * lane) — no digest, no join, nothing crosses the wire. The rules are
    * PARAMETERS, not policy baked in code: a platform tightens them per
    * corpus without touching the operator.
    */
  def filterLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLineTokens: Int = 3,
      requireTerminalPunct: Boolean = true,
      blockedSubstrings: Seq[String] = Seq("javascript", "lorem ipsum", "{")): DataFrame = {
    require(minLineTokens >= 0, "minLineTokens must be >= 0")
    val blocked = blockedSubstrings.map(_.toLowerCase)
    val lines = filter(split(col(textCol), "\n"), l => length(trim(l)) > 0)
    def keeps(l: Column): Column = {
      val t = trim(l)
      val toksOk =
        size(filter(split(t, "\\s+"), w => length(w) > 0)) >= minLineTokens
      val punctOk =
        if (requireTerminalPunct) substring(t, -1, 1).isin(".", "!", "?", "\"")
        else lit(true)
      val blockedOk =
        if (blocked.isEmpty) lit(true)
        else blocked.map(b => !lower(l).contains(b)).reduce(_ && _)
      toksOk && punctOk && blockedOk
    }
    // lines materialize once; the kept array references them twice
    df.select(col(idCol).as("id"), lines.as("_lines"))
      .select(col("id"), col("_lines"), filter(col("_lines"), keeps _).as("_kept"))
      .select(
        col("id"),
        coalesce(array_join(col("_kept"), "\n"), lit("")).as("text_kept"),
        coalesce(size(col("_lines")), lit(0)).cast("long").as("n_lines"),
        coalesce(size(col("_kept")), lit(0)).cast("long").as("n_kept"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1) — the
    * DOC-level repetition/shape gate that sits next to [[filterLines]]'s
    * LINE-level cleaner in every crawl pipeline: word-count bounds, mean
    * word length bounds, symbol-to-word ratio, alphabetic-word fraction,
    * bullet/ellipsis line fractions, duplicate-line fraction, and a minimum
    * stopword-hit count (the "is this prose at all" signal). Emits every
    * counter, every per-rule verdict, and the AND as `keep` — a curation
    * run needs to know WHICH rule killed a document, not just that one did.
    *
    * Exactness contract: every ratio rule compares by integer
    * CROSS-MULTIPLICATION (`100·n_sym ≤ pct·n_words`), so thresholds are
    * exact percentages and no ratio ever materializes as a float — verdicts
    * are engine- and partitioning-identical. Ratio rules with a zero
    * denominator pass vacuously (no words ⇒ no word-ratio verdict; only the
    * word-count rule drops empty docs); the stopword rule is a genuine
    * content minimum and does fail on empty docs — same outcome, stated
    * honestly. NULL text scores as the empty document, never a dropped row
    * (the [[extractHtmlText]] family contract). Lines follow the
    * [[filterLines]] discipline: empty lines are separators, not lines.
    * `…` and `...` both count as ellipses; `-`/`*`/`•` open bullet lines.
    *
    * Shape at 100 TB: one staged scan-speed projection per doc — the token
    * and line arrays materialize ONCE (the interpreted-HOF discipline,
    * SURVEY §3), then integer counters, then the rule arithmetic; zero
    * shuffles, zero joins.
    */
  def gopherFilter(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLenX100: Int = 300,
      maxMeanWordLenX100: Int = 1000,
      maxSymbolWordPct: Int = 10,
      minAlphaWordPct: Int = 80,
      maxEllipsisLinePct: Int = 30,
      maxBulletLinePct: Int = 90,
      maxDupLinePct: Int = 30,
      minStopwordHits: Int = 2,
      keep: Seq[String] = Nil): DataFrame = {
    require(minWords >= 0 && maxWords >= minWords, "bad word-count bounds")
    require(minMeanWordLenX100 >= 0 && maxMeanWordLenX100 >= minMeanWordLenX100,
      "bad mean-word-length bounds")
    val allStops = stopwords.values.flatten.toSeq.distinct
    val staged = df.select(col(idCol) +: keep.map(col) :+
      coalesce(col(textCol), lit("")).as("_t"): _*)
      .select(col(idCol) +: keep.map(col) :+ col("_t") :+
        tokens(col("_t")).as("_toks") :+
        filter(split(col("_t"), "\n"), l => length(trim(l)) > 0).as("_lines"): _*)
    val counts = staged.select(col(idCol) +: keep.map(col) :+
      size(col("_toks")).cast("long").as("n_words") :+
      aggregate(col("_toks"), lit(0L), (a, x) => a + length(x)).as("n_word_chars") :+
      size(filter(col("_toks"), x => x.rlike("[a-z]"))).cast("long").as("n_alpha_words") :+
      org.apache.spark.sql.graft.CountInSet(col("_toks"), allStops)
        .cast("long").as("n_stopword_hits") :+
      size(col("_lines")).cast("long").as("n_lines") :+
      size(array_distinct(col("_lines"))).cast("long").as("n_distinct_lines") :+
      size(filter(col("_lines"), l =>
        substring(ltrim(l), 1, 1).isin("-", "*", "•"))).cast("long").as("n_bullet_lines") :+
      size(filter(col("_lines"), l =>
        endswith(rtrim(l), lit("...")) || endswith(rtrim(l), lit("…"))))
        .cast("long").as("n_ellipsis_lines") :+
      ((length(col("_t")) - length(replace(col("_t"), lit("#"), lit("")))) +
        (length(col("_t")) - length(replace(col("_t"), lit("…"), lit("")))) +
        (length(col("_t")) - length(replace(col("_t"), lit("..."), lit("")))) / 3)
        .cast("long").as("n_symbols"): _*)
    val w = col("n_words")
    val lns = col("n_lines")
    val wordsOk = w >= minWords && w <= maxWords
    val meanOk = col("n_word_chars") * 100 >= lit(minMeanWordLenX100.toLong) * w &&
      col("n_word_chars") * 100 <= lit(maxMeanWordLenX100.toLong) * w
    val alphaOk = col("n_alpha_words") * 100 >= lit(minAlphaWordPct.toLong) * w
    val symbolOk = col("n_symbols") * 100 <= lit(maxSymbolWordPct.toLong) * w
    val bulletOk = col("n_bullet_lines") * 100 <= lit(maxBulletLinePct.toLong) * lns
    val ellipsisOk =
      col("n_ellipsis_lines") * 100 <= lit(maxEllipsisLinePct.toLong) * lns
    val dupOk =
      (lns - col("n_distinct_lines")) * 100 <= lit(maxDupLinePct.toLong) * lns
    val stopOk = col("n_stopword_hits") >= minStopwordHits
    counts.select(col(idCol) +: keep.map(col) :+
      col("n_words") :+ col("n_word_chars") :+ col("n_alpha_words") :+
      col("n_stopword_hits") :+ col("n_lines") :+ col("n_distinct_lines") :+
      col("n_bullet_lines") :+ col("n_ellipsis_lines") :+ col("n_symbols") :+
      wordsOk.as("words_ok") :+ meanOk.as("mean_word_len_ok") :+
      alphaOk.as("alpha_ok") :+ symbolOk.as("symbol_ok") :+
      bulletOk.as("bullet_ok") :+ ellipsisOk.as("ellipsis_ok") :+
      dupOk.as("dup_line_ok") :+ stopOk.as("stopword_ok") :+
      (wordsOk && meanOk && alphaOk && symbolOk && bulletOk && ellipsisOk &&
        dupOk && stopOk).as("keep"): _*)
  }

  /** HTML → text extraction — the step before every other cleaner when the
    * corpus is a crawl: drop `<script>`/`<style>` blocks and comments WITH
    * their contents (code and CSS are not prose), strip remaining tags,
    * decode the six ubiquitous entities, collapse whitespace. Regex-only by
    * design — RE2-compatible patterns (non-greedy, inline flags, no
    * backreferences/lookahead), so the DuckDB twin replays the identical
    * chain and a real HTML parser is not smuggled in as a dependency; a
    * platform with libhtml swaps this operator, not its plan shape.
    * Entity decode is single-pass by replacement ORDER — `&amp;` decodes
    * LAST, so `&amp;lt;` renders `&lt;` (the literal four characters), never
    * double-decodes to `<` (spec-pinned). NULL text yields an empty
    * extraction, never a dropped row. Output:
    * (id, `text_extracted`, `n_chars_extracted`).
    *
    * Shape at 100 TB: a pure scan-speed projection — one regex chain inside
    * whole-stage codegen, zero shuffles, zero joins (the [[normalizeText]]
    * lane; compose them extract-then-normalize).
    */
  def extractHtmlText(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val noScript = regexp_replace(col(textCol), "(?is)<script.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    val collapsed = coalesce(trim(regexp_replace(decoded, "\\s+", " ")), lit(""))
    df.select(col(idCol), collapsed.as("text_extracted"),
      length(collapsed).as("n_chars_extracted"))
  }

  def normalizeText(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val upper = ('A' to 'Z').mkString
    val lowerS = ('a' to 'z').mkString
    val cleaned = regexp_replace(col(textCol), "[\\x00-\\x1F\\x7F]", " ")
    val folded = translate(cleaned, upper, lowerS)
    val collapsed = trim(regexp_replace(folded, " +", " "))
    df.select(col(idCol), collapsed.as("text_norm"),
      length(collapsed).as("n_chars_norm"))
  }

  /** Inverted index: per term, exact corpus statistics (total occurrences,
    * document frequency) plus a capped posting list — the lowest
    * `maxPostings` doc ids, sorted (deterministic cut). The search-side
    * companion to [[ngramStats]].
    *
    * Scale shape: the exact counts are one codegen'd hash aggregation over
    * the exploded (term, doc) stream (map-side partial, single exchange).
    * The posting list is NOT a `collect_set` over the full stream — a stopword
    * term's set would hold every doc id in the corpus in one aggregation
    * buffer (the classic giant-group OOM). Instead distinct pairs rank
    * through a per-term `row_number` (sort-based, spills) and only rows with
    * rank <= `maxPostings` reach the collect, so aggregation state is bounded
    * by the cap regardless of term skew.
    */
  def invertedIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxPostings: Int): DataFrame = {
    require(maxPostings > 0, "maxPostings must be positive")
    // lazily checkpointed: the exploded stream feeds the stats aggregation
    // AND the postings branch — without it the tokenize+explode scan (the
    // expensive pass) runs twice (same discipline as minHashLsh/pmiPairs)
    val pairs = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), explode(col("_toks")).as("term"))
      .localCheckpoint(false)
    val stats = pairs.groupBy(col("term"))
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col("doc_id")).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("doc_id"))
    val postings = pairs.distinct()
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxPostings)
      .groupBy(col("term"))
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"))
    stats.join(postings, Seq("term"))
      .withColumn("postings_str", array_join(col("postings"), ","))
  }

  /** BM25-family top-k text retrieval over the corpus (the query side of
    * [[invertedIndex]]): every query in `queries` (columns `qid`, `qtext`)
    * gets its `k` best documents under a rank-exact FIXED-POINT BM25
    * variant — Okapi tf saturation and length normalization with the
    * standard k1 = 1.2, b = 0.75 taken as EXACT rationals (6/5, 3/4), and
    * the `(N - df + 0.5) / (df + 0.5)` idf kept in RATIO form rather than
    * its log: every per-term quantity is integer arithmetic in 2^20 fixed
    * point, per-doc scores are integer SUMS (order-independent — an IEEE
    * float sum would make the ranking depend on partitioning), so the
    * ranking is exact and engine-reproducible (the [[pmiPairs]] /
    * [[lmScore]] discipline). BE CLEAR about what the ratio idf changes:
    * per TERM it is a monotone transform of log-BM25, but summed across a
    * multi-term query it weighs rare terms more heavily than the log curve,
    * so the top-k can differ from textbook BM25 — this is a deliberately
    * DIFFERENT, deterministic ranking function (rare-term-dominant), chosen
    * because a cross-engine-exact log is not expressible and a drifting
    * ranking is worse than a documented variant. Per (doc, query-term):
    * {{{
    *   tfc_fp = (22·L·tf << 20) div (10·L·tf + 3·L + 9·dl·N)   // (k1+1)·tf / (tf + k1(1-b+b·dl/avgdl)), ×10L
    *   idf_fp = ((2(N-df) + 1) << 20) div (2·df + 1)
    *   score  = Σ_terms qtf · ((idf_fp · tfc_fp) >> 20)
    * }}}
    * with N = corpus docs, L = total tokens, dl = doc tokens, df = docs
    * containing the term, qtf = the term's count in the query. Numerators
    * run in decimal(38,0) (22·L·tf·2^20 passes 2^63 around L ≈ 4·10^11
    * tokens — the [[vocabCoverage]] overflow rule); every quotient fits a
    * long. Ties rank by doc_id, so the cut is deterministic.
    *
    * Shape at 100 TB: the corpus is scanned twice (a column-pruned
    * map-side-aggregated scan for the N/L scalars — one broadcast 1-row
    * cross join, the [[lmScore]] pattern — and the tokenize+explode scan),
    * the exploded stream drops every non-query term against the BROADCAST
    * query-term set before any shuffle, so the one corpus-sized exchange
    * carries only matching (doc_id, term) rows; df/idf come from the
    * checkpointed matching-term table (query-sized, broadcast back), and
    * the final top-k is a per-qid window over each query's candidate set.
    */
  def searchBm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val qterms = queries
      .select(col("qid"), explode(tokens(col("qtext"))).as("term"))
      .groupBy(col("qid"), col("term")).agg(count(lit(1)).as("qtf"))
    val qset = qterms.select(col("term")).distinct()
    val scalars = docs
      .select(size(tokens(col(textCol))).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("l_total"))
    // matching (doc, term) rows only; checkpointed — feeds the df
    // aggregation AND the scoring join (the invertedIndex discipline:
    // without it the corpus explode scan runs twice)
    val tf = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), size(col("_toks")).as("dl"),
        explode(col("_toks")).as("term"))
      .join(broadcast(qset), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .localCheckpoint(false)
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(dfT), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .crossJoin(broadcast(scalars))
      .withColumn("idf_fp", expr(
        "(cast(2 * (n_docs - df) + 1 as decimal(38, 0)) * 1048576) div (2 * df + 1)"))
      .withColumn("tfc_fp", expr(
        "(cast(22 as decimal(38, 0)) * l_total * tf * 1048576)" +
          " div (cast(10 as decimal(38, 0)) * l_total * tf + cast(3 as decimal(38, 0)) * l_total" +
          " + cast(9 as decimal(38, 0)) * dl * n_docs)"))
      .withColumn("contrib", expr(
        "qtf * ((cast(idf_fp as decimal(38, 0)) * tfc_fp) div 1048576)"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("contrib")).as("score_fp"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score_fp").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("rank"), col("score_fp"))
  }

  /** Windowed token co-occurrence: ordered pairs `(a, b)` where `b` appears
    * within `window` positions after `a` in the same doc, with total pair
    * occurrences and document frequency — the integer-exact substrate for
    * PMI/embedding-training statistics (the log-scores that would drift
    * cross-engine are left to the consumer; counts never drift). Returns the
    * `topK` pairs by occurrence count, ties broken lexicographically so the
    * cut is deterministic.
    *
    * Shape: pairs are generated INSIDE the row projection by the native
    * codegen'd [[org.apache.spark.sql.graft.WordPairs]] expression (fan-out
    * `window` per token, no self-join of the exploded stream, which would
    * shuffle the corpus twice at 100 TB), then one codegen'd hash aggregation
    * and a TakeOrdered for the top-k — the same explode→agg shape as
    * [[ngramStats]]. The pair travels as one `"a b"` string through the
    * aggregation (tokens are whitespace-free, so the encoding is loss-free
    * and its binary order equals the tuple order — the top-k cut is the
    * same); only the `topK` winners split back into columns.
    */
  def cooccurrence(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      topK: Int): DataFrame = {
    require(window > 0 && topK > 0, "window and topK must be positive")
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
      .select(col("id"),
        explode(org.apache.spark.sql.graft.WordPairs(col("_toks"), window)).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_pairs"), count_distinct(col("id")).as("n_docs"))
      .orderBy(col("n_pairs").desc, col("pair"))
      .limit(topK)
      .select(
        element_at(split(col("pair"), " "), 1).as("a"),
        element_at(split(col("pair"), " "), 2).as("b"),
        col("n_pairs"), col("n_docs"))
  }

  /** Distinctive terms per document: the `k` terms with the highest
    * `tf / df` ratio (term frequency in the doc over corpus document
    * frequency — the division is one exactly-rounded IEEE op on two exact
    * integers, so the score and therefore the ranking is engine-identical;
    * a log-idf would not be). Ties break lexicographically. The cheap
    * keyword-extraction / doc-labeling primitive.
    *
    * Shape: one exploded (id, token) stream checkpointed and reused for the
    * per-doc tf aggregation; df is a second aggregation OVER tf (one row per
    * (doc, term) — already narrow); the join back is term-keyed and the
    * top-k is a per-doc row_number over at most distinct-terms-per-doc rows.
    */
  def topTermsPerDoc(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val tf = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), explode(col("_toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(false) // feeds both the df agg and the join back
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("term"))
      .withColumn("score", col("tf").cast("double") / col("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Vocabulary coverage curve — the tokenizer-design primitive: the top
    * `vocabSize` tokens by corpus frequency (ties to the lexicographically
    * smaller token, so the cut is deterministic) with rank, count, and the
    * CUMULATIVE share of all token occurrences covered so far, as exact
    * integer parts-per-million (`cum_ppm`). Reading the curve answers "how
    * big a vocab covers 95% of the corpus".
    *
    * Shape: one codegen'd hash aggregation over the exploded token stream
    * (map-side partial), a TakeOrdered for the top-`vocabSize` cut (never a
    * global sort), then the cumulative window runs over only `vocabSize`
    * rows — the single-partition window is over the RESULT, whose size the
    * caller fixed, not the data. The corpus-total denominator rides a 1-row
    * broadcast.
    */
  /** Exact pairwise vocabulary-overlap matrix between groups — the
    * brute-force twin of the KMV overlap matrix ([[graft.ops.Sketch
    * .kmvPairwise]]): KMV answers the same question from
    * kilobyte sketches with bounded error (the 100 TB default); THIS is
    * the exact ground truth at distinct-vocabulary cost, the same
    * exact-vs-sketch pairing as knn_brute vs the ANN paths. Per group
    * pair (a < b, DENSE — disjoint pairs read 0, absence is the
    * finding): `n_a`/`n_b` (distinct-token vocabulary sizes),
    * `n_common`, `n_union = n_a + n_b − n_common`, `jaccard_ppm`, and
    * both containments (`⌊common·10⁶/n_a⌋`, `/n_b`) — containment is
    * what "is corpus B just a subset of A" actually asks, and Jaccard
    * alone hides it. All exact longs + integral divisions. Tokens are
    * the engine-standard lowercased whitespace tokens. The grid's group
    * dimension comes from the PRE-tokenize input, so a group whose texts
    * all tokenize empty still appears with size 0 (its pairs read 0
    * across every metric) rather than silently vanishing.
    *
    * Shape at 100 TB: one corpus pass to the DISTINCT (group, token)
    * membership (checkpointed — the sizes agg and both pair-join sides
    * read it), the intersection counts cluster on the token key with
    * per-token fan-out ≤ C(G,2) — G is a DIMENSION (sources, snapshots),
    * so total pair work is ≤ V·G²/2, the ksTest grid contract, never
    * corpus × corpus; sizes attach as G-row broadcasts and the dense
    * grid is the sanctioned dimension-sized broadcast cross.
    */
  def vocabOverlap(
      df: DataFrame,
      groupCol: String,
      textCol: String): DataFrame = {
    val filtered = df
      .filter(col(groupCol).isNotNull && col(textCol).isNotNull)
    val vt = filtered
      .select(col(groupCol).cast("string").as("_g"),
        explode(tokens(col(textCol))).as("_t"))
      .distinct()
      .localCheckpoint(false) // feeds sizes AND both pair-join sides
    // the group dimension comes from the PRE-explode input: a group whose
    // texts all tokenize to zero tokens never survives the explode, and
    // building the grid from post-explode sizes would silently drop it —
    // the dense-grid promise is that such a group READS 0, not vanishes.
    // One extra scan, pruned to the single group column (G-sized agg).
    val groups = filtered
      .select(col(groupCol).cast("string").as("_g")).distinct()
    val sizes = groups
      .join(vt.groupBy(col("_g")).agg(count(lit(1)).as("_n")), Seq("_g"), "left")
      .withColumn("_n", coalesce(col("_n"), lit(0L)))
    val common = vt
      .join(vt.select(col("_g").as("_g2"), col("_t")), Seq("_t"))
      .filter(col("_g") < col("_g2"))
      .groupBy(col("_g"), col("_g2")).agg(count(lit(1)).as("n_common"))
    val grid = sizes.select(col("_g"), col("_n").as("n_a"))
      .crossJoin(broadcast(sizes.select(col("_g").as("_g2"),
        col("_n").as("n_b"))))
      .filter(col("_g") < col("_g2"))
    grid
      .join(common, Seq("_g", "_g2"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_common"))
      .select(
        col("_g").as("group_a"), col("_g2").as("group_b"),
        col("n_a"), col("n_b"), col("n_common"), col("n_union"),
        // empty-vocabulary groups make the denominators 0; the dense-grid
        // contract is that those pairs READ 0 (not null, not dropped)
        when(col("n_union") === 0L, lit(0L)).otherwise(
          expr("(CAST(n_common AS DECIMAL(38,0)) * 1000000) div n_union")
            .cast("long")).as("jaccard_ppm"),
        when(col("n_a") === 0L, lit(0L)).otherwise(
          expr("(CAST(n_common AS DECIMAL(38,0)) * 1000000) div n_a")
            .cast("long")).as("containment_a_ppm"),
        when(col("n_b") === 0L, lit(0L)).otherwise(
          expr("(CAST(n_common AS DECIMAL(38,0)) * 1000000) div n_b")
            .cast("long")).as("containment_b_ppm"))
  }

  def vocabCoverage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val counts = df
      .select(tokens(col(textCol)).as("_toks"))
      .select(explode(col("_toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // feeds the total AND the top-k cut
    val total = counts.agg(sum(col("cnt")).as("_total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    counts.orderBy(col("cnt").desc, col("token")).limit(vocabSize)
      .withColumn("rank", row_number().over(w))
      .withColumn("_cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("cnt"),
        // decimal(38) intermediate: _cum * 1e6 overflows LONG once the
        // corpus passes ~9.2e12 token occurrences (well inside 100 TB);
        // the integral divide result still lands as an exact long
        expr("CAST(_cum AS DECIMAL(38,0)) * 1000000 DIV _total").as("cum_ppm"))
  }

  /** Corpus vocabulary-novelty curve — the crawl-freshness monitor next to
    * [[vocabCoverage]] (which asks "how big a vocab covers the corpus";
    * this asks "is new data still bringing new language, or are we
    * re-crawling the same content"): bucket the corpus by ingest order
    * (`orderCol div bucketSize` — doc ids ARE arrival order in a crawl
    * log), and per bucket report exact longs:
    *  - `n_tokens` (occurrences) and `n_types` (distinct tokens active);
    *  - `n_new_types` — types whose FIRST bucket this is (the Heaps'-law
    *    increment; a flattening curve means the source is exhausted);
    *  - `vocab_cum` — cumulative distinct vocabulary through this bucket;
    *  - `novelty_ppm = ⌊new·10⁶/types⌋` and the classic type-token ratio
    *    `ttr_ppm = ⌊types·10⁶/tokens⌋` — both integral divisions on
    *    DECIMAL(38,0) intermediates, engine-exact.
    * Engine-standard lowercased whitespace tokens. A bucket whose docs all
    * tokenize to zero tokens is ABSENT (no token mass, no novelty row —
    * unlike [[vocabOverlap]]'s dense grid, a curve's missing x is visible
    * by inspection). NULL order/text rows drop.
    *
    * Shape at 100 TB: two passes over the exploded token stream (the
    * occurrence counts and the DISTINCT (bucket, type) membership — the
    * dsir/text-family recompute convention; checkpointing the corpus-sized
    * explode would cost more than the second scan), then everything
    * downstream is membership-sized: first-bucket is a V-keyed arg-min,
    * per-bucket counts are B-row aggregations, and the cumulative window
    * runs single-partition over B result rows (the [[vocabCoverage]]
    * bounded-result convention).
    */
  def vocabNovelty(
      df: DataFrame,
      orderCol: String,
      textCol: String,
      bucketSize: Long): DataFrame = {
    require(bucketSize > 0, "bucketSize must be positive")
    val toks = df
      .filter(col(orderCol).isNotNull && col(textCol).isNotNull)
      .select(
        call_function("div", col(orderCol).cast("long"), lit(bucketSize)).as("_b"),
        explode(tokens(col(textCol))).as("_t"))
    val occ = toks.groupBy(col("_b")).agg(count(lit(1)).as("n_tokens"))
    val pairs = toks.distinct().localCheckpoint(false) // types AND first-bucket
    val types = pairs.groupBy(col("_b")).agg(count(lit(1)).as("n_types"))
    val news = pairs.groupBy(col("_t")).agg(min(col("_b")).as("_b"))
      .groupBy(col("_b")).agg(count(lit(1)).as("n_new_types"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    occ.join(types, Seq("_b"))
      .join(news, Seq("_b"), "left")
      .withColumn("n_new_types", coalesce(col("n_new_types"), lit(0L)))
      .withColumn("vocab_cum", sum(col("n_new_types")).over(w))
      .select(col("_b").as("bucket"),
        col("n_tokens"), col("n_types"), col("n_new_types"), col("vocab_cum"),
        expr("(CAST(n_new_types AS DECIMAL(38,0)) * 1000000) div n_types")
          .cast("long").as("novelty_ppm"),
        expr("(CAST(n_types AS DECIMAL(38,0)) * 1000000) div n_tokens")
          .cast("long").as("ttr_ppm"))
  }

  /** Pointwise-mutual-information pair ranking over the [[cooccurrence]]
    * substrate: the `topK` within-`window` ordered token pairs by
    * `count(a,b) / (count(a) · count(b))` — PMI up to a corpus-wide constant
    * factor, which cannot change the ranking. The score ships as
    * `n_pairs · scale DIV (c_a · c_b)` — exact integer arithmetic, so the
    * ranking (and the oracle hash) is engine-identical where a floating
    * `log` would drift. Pairs below `minPairs` occurrences are dropped first
    * (rare-pair PMI is noise — textbook practice).
    *
    * Shape: the tokenized corpus is checkpointed once and feeds both the
    * pair counts (native codegen'd [[org.apache.spark.sql.graft.WordPairs]]
    * fan-out, no self-join of the exploded stream) and the unigram counts;
    * the score join is vocab-keyed (dictionary-sized right side — Spark
    * broadcasts it when small); the top-k is a TakeOrdered.
    */
  def pmiPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      topK: Int,
      minPairs: Long,
      scale: Long = 1000000000L): DataFrame = {
    require(window > 0 && topK > 0 && minPairs >= 1 && scale > 0,
      "window, topK, minPairs, scale must be positive")
    val toks = df.select(tokens(col(textCol)).as("_toks")).localCheckpoint(false)
    val uni = toks.select(explode(col("_toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val pairs = toks
      .select(explode(org.apache.spark.sql.graft.WordPairs(col("_toks"), window)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minPairs)
      .select(
        element_at(split(col("pair"), " "), 1).as("a"),
        element_at(split(col("pair"), " "), 2).as("b"),
        col("n_pairs"))
    pairs
      .join(uni.select(col("tok").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("tok").as("b"), col("c").as("c_b")), Seq("b"))
      // decimal(38) intermediates: c_a·c_b for two stopwords at 100 TB is
      // ~1e24 — far past Long.Max (ANSI overflow error, or wrapped garbage
      // ranking with ANSI off); the integral divide still returns a long
      .withColumn("pmi_scaled",
        expr(s"CAST(n_pairs AS DECIMAL(38,0)) * ${scale}L DIV " +
          "(CAST(c_a AS DECIMAL(38,0)) * c_b)"))
      .orderBy(col("pmi_scaled").desc, col("a"), col("b"))
      .limit(topK)
      .select(col("a"), col("b"), col("n_pairs"), col("c_a"), col("c_b"),
        col("pmi_scaled"))
  }

  /** First-fit-decreasing sequence packing: docs are packed WHOLE into
    * token-budget bins (no document ever splits — the alternative to
    * [[packSequences]]' concatenate-then-chunk, for training recipes that
    * can't cut across document boundaries). Within each `partitionKey`
    * group, docs sort by (tokens desc, id asc) and each goes into the first
    * bin with room — the classic FFD guarantee (≤ 11/9·OPT + 1 bins). A doc
    * larger than the budget gets a bin of its own, flagged `oversize`.
    * Output: (partitionKey, id, n_tokens, bin, oversize).
    *
    * Packing is inherently sequential WITHIN a group (each placement depends
    * on all previous fills), so this is the rare operator where per-group
    * imperative code is the honest shape: `flatMapGroups` runs the loop
    * per shard while shards parallelize across the cluster. State per group
    * is the open-bin fill array (≤ docs/budget entries); a group must fit
    * one task — which is the same contract sharded training data already
    * obeys. Everything is deterministic: sort order and first-fit scan leave
    * no tie to the runtime.
    */
  def packSequencesFFD(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tokenBudget: Int,
      partitionKey: String): DataFrame = {
    require(tokenBudget > 0, "tokenBudget must be positive")
    // the id rides through the typed flatMapGroups as a Long — fail fast on
    // non-integral ids instead of ANSI cast errors (or NULLs) mid-job
    require(Seq("byte", "short", "int", "bigint", "long")
      .contains(df.schema(idCol).dataType.simpleString),
      s"packSequencesFFD needs an integral $idCol " +
        s"(got ${df.schema(idCol).dataType.simpleString})")
    import df.sparkSession.implicits._
    val sized = df.select(
      col(partitionKey).cast("string").as("_shard"),
      col(idCol).cast("long").as("_id"),
      size(tokens(col(textCol))).as("_n"))
      .as[(String, Long, Int)]
    sized.groupByKey(_._1)
      .flatMapGroups { (shard: String, it: Iterator[(String, Long, Int)]) =>
        val docs = it.map(t => (t._2, t._3)).toArray
        java.util.Arrays.sort(docs, Ordering.by[(Long, Int), (Int, Long)] {
          case (id, n) => (-n, id)
        })
        val fills = scala.collection.mutable.ArrayBuffer.empty[Int]
        docs.iterator.map { case (id, n) =>
          val bin =
            if (n > tokenBudget) { fills += tokenBudget; fills.length - 1 }
            else {
              val i = fills.indexWhere(_ + n <= tokenBudget)
              if (i >= 0) { fills(i) += n; i }
              else { fills += n; fills.length - 1 }
            }
          (shard, id, n, bin, n > tokenBudget)
        }
      }
      .toDF(partitionKey, idCol, "n_tokens", "bin", "oversize")
  }

  /** Tokenize to vocabulary ids — the final text→model-input step of a
    * pretraining pipeline: each doc becomes its ordered id sequence under
    * `vocab` (columns `token`, `token_id`), with out-of-vocabulary tokens
    * mapped to `oovId`. Output: (id, `ids` — the ordered `array<int>` id
    * sequence, `n_tokens`, `n_oov`); token-empty docs keep an empty array
    * and zeros. The ids stay TYPED — a training pipeline consumes
    * `array<int>` directly; render a string form downstream if a diff or
    * fingerprint needs a scalar.
    *
    * Shape: positional explode → broadcast hash join against the vocabulary
    * (dictionary-sized by construction — a vocab that can't broadcast can't
    * fit a tokenizer either) → one re-aggregation per doc whose state is the
    * doc's own id list. One exchange of narrow (id, pos, token_id) rows; the
    * join itself never shuffles the corpus.
    */
  def tokenizeToIds(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame,
      oovId: Int = -1): DataFrame = {
    val pos = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("_toks"))
      .select(col("id"), posexplode_outer(col("_toks")).as(Seq("pos", "token")))
    pos.join(broadcast(vocab.select(col("token"), col("token_id"))),
        Seq("token"), "left")
      .groupBy(col("id"))
      .agg(
        // wrap in when(): a token-empty doc's explode_outer marker row would
        // otherwise contribute a (null, oov) struct — collect_list skips
        // nulls, so the empty doc aggregates to an empty array
        transform(
          array_sort(collect_list(when(col("pos").isNotNull,
            struct(col("pos"),
              coalesce(col("token_id"), lit(oovId)).as("tid"))))),
          e => e.getField("tid")).as("ids"),
        count(col("pos")).as("n_tokens"),
        count(when(col("pos").isNotNull && col("token_id").isNull, 1)).as("n_oov"))
  }

  /** Inverse of [[tokenizeToIds]] — the serving-side decode that closes the
    * vocabulary round trip (train merges → encode → ids → DECODE): each
    * doc's ordered id sequence maps back through the vocabulary, ids
    * outside it rendering as `oovToken` (surfaced in `n_unknown`, never
    * silently dropped — a sequence length must survive the round trip).
    * Output: (id, `decoded`, `n_ids`, `n_unknown`); id-empty docs decode to
    * `""` with zeros.
    *
    * Same shape as the encoder: positional explode → broadcast hash join
    * against the dictionary-sized vocab → one per-doc re-aggregation whose
    * state is the doc's own token list. One exchange of narrow rows; the
    * corpus never shuffles for the lookup.
    */
  def decodeIds(
      df: DataFrame,
      idCol: String,
      idsCol: String,
      vocab: DataFrame,
      oovToken: String = "<unk>"): DataFrame = {
    val pos = df
      .select(col(idCol).as("id"), posexplode_outer(col(idsCol)).as(Seq("pos", "token_id")))
    pos.join(broadcast(vocab.select(col("token_id"), col("token"))),
        Seq("token_id"), "left")
      .groupBy(col("id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("pos").isNotNull,
            struct(col("pos"),
              coalesce(col("token"), lit(oovToken)).as("tok"))))),
          e => e.getField("tok")), " ").as("decoded"),
        count(col("pos")).as("n_ids"),
        count(when(col("pos").isNotNull && col("token").isNull, 1)).as("n_unknown"))
  }

  /** Content fingerprint: md5 digest of the sorted distinct token set.
    * Word-order- and repetition-insensitive, so shuffled/boilerplate copies
    * collide — the cheap "same content?" key for exact-ish dedup joins.
    */
  def fingerprintDocs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprint(col(textCol)).as("fingerprint"))

  /** Model-based quality signal (the CCNet-style filter next to the
    * heuristic [[qualityScore]]): a bigram language model is trained on
    * `train` (integer counts, no floats) and every `docs` row is scored by
    * its mean smoothed transition probability in 2^20 FIXED POINT — per
    * bigram `q = ((c_pair + 1) << 20) div (c_prefix + V)` (add-one smoothing
    * over the train vocabulary `V`), all integer arithmetic, so the ranking
    * is EXACT and engine-reproducible (same discipline as [[pmiPairs]]);
    * `lm_q = score_sum / n_bigrams` is one deterministic IEEE division at
    * the end. In-distribution text scores high, shuffled/garbled text low —
    * the standard "does a reference-corpus LM like this document" filter.
    *
    * Output: `(id, n_bigrams, score_sum, lm_q)`; a doc with fewer than two
    * tokens has no bigrams and scores `lm_q = null` (no evidence either
    * way), never a fabricated 0.
    *
    * Shape at 100 TB: the train corpus is scanned twice (bigram counts —
    * checkpointed once, both derived tables branch from it — and the
    * vocabulary size); the count tables are TRAIN-vocabulary-sized and
    * broadcast like [[tokenizeToIds]]' vocab, so the scored corpus never
    * shuffles for the lookup — one narrow exchange re-aggregates per-doc
    * sums. `minCount` prunes the broadcast pair table (pairs below it score
    * as unseen — their prefix mass and `V` are computed BEFORE pruning, so
    * smoothing denominators don't shift), the standard knob that keeps a
    * web-scale bigram table broadcastable. Envelope: `q` stays in a long
    * while `c_pair < 2^43` (per-bigram train occurrences), far past any
    * real corpus.
    */
  def lmScore(
      train: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    import org.apache.spark.sql.graft.WordPairs
    // tokens contain no whitespace, so the "w1 w2" pair string splits back
    // losslessly (the WordPairs contract). The count table is materialized
    // ONCE (localCheckpoint): both derived tables (pruned pair lookup,
    // prefix mass) branch from it, and as plain plan branches each would
    // re-run the train-corpus explode+aggregation from scratch
    val trainPairs = train
      .select(explode(WordPairs(tokens(col(textCol)), 1)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("c_pair"))
      .withColumn("w1", split(col("pair"), " ").getItem(0))
      .localCheckpoint()
    val prefixCounts = trainPairs.groupBy(col("w1"))
      .agg(sum(col("c_pair")).as("c_prefix"))
    val pairTable = trainPairs.filter(col("c_pair") >= minCount)
      .select(col("pair"), col("c_pair"))
    val vocabSize = train
      .select(explode(tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("v_size"))
    docs
      .select(col(idCol).as("id"),
        // explode_outer: a doc with < 2 tokens still gets its output row
        explode_outer(WordPairs(tokens(col(textCol)), 1)).as("pair"))
      .withColumn("w1", split(col("pair"), " ").getItem(0))
      .join(broadcast(pairTable), Seq("pair"), "left")
      .join(broadcast(prefixCounts), Seq("w1"), "left")
      .crossJoin(broadcast(vocabSize)) // 1 row: the smoothing denominator
      .withColumn("q", when(col("pair").isNull, lit(null)).otherwise(
        // greatest(V, 1): an empty train corpus degrades to uniform scores
        // instead of a divide-by-zero (Spark nulls, DuckDB errors — neither
        // is a score)
        expr("((coalesce(c_pair, 0L) + 1L) * 1048576L)" +
          " div (coalesce(c_prefix, 0L) + greatest(v_size, 1L))")))
      .groupBy(col("id"))
      .agg(count(col("pair")).as("n_bigrams"),
        coalesce(sum(col("q")), lit(0L)).as("score_sum"))
      .withColumn("lm_q",
        when(col("n_bigrams") === 0, lit(null).cast("double"))
          .otherwise(col("score_sum").cast("double") / col("n_bigrams")))
  }

  /** Collect [[lmScore]]'s trained tables into a broadcast
    * [[org.apache.spark.sql.graft.LmTable]] — the deployable form of the
    * bigram LM: pruned pair counts, FULL prefix masses, vocabulary size,
    * built by the exact aggregations the batch scorer broadcast-joins, so a
    * consumer scoring with this table is value-identical to [[lmScore]] in
    * the 2^20 fixed-point lane. This is what the STREAMING quality gate
    * ([[graft.streaming.EventStream.qualityGate]]) needs: a stream cannot
    * re-plan broadcast joins per doc, but it can look pairs up in-row from
    * a broadcast map. Driver-state bound = the pruned pair table —
    * `minCount` is the caller's knob, the same bound the batch scorer's
    * broadcast join already implies (prune harder for a bigger train
    * corpus; pruning never shifts smoothing denominators, the lmScore
    * contract).
    */
  def trainLmTable(
      train: DataFrame,
      textCol: String,
      minCount: Long = 1L): org.apache.spark.broadcast.Broadcast[org.apache.spark.sql.graft.LmTable] = {
    require(minCount >= 1, "minCount must be >= 1")
    import org.apache.spark.sql.graft.{LmTable, WordPairs}
    // one train-corpus scan materialized once, three narrow collects off it
    // (the lmScore checkpoint discipline)
    val trainPairs = train
      .select(explode(WordPairs(tokens(col(textCol)), 1)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("c_pair"))
      .localCheckpoint()
    val pairRows = trainPairs.filter(col("c_pair") >= minCount)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val prefixRows = trainPairs
      .withColumn("w1", split(col("pair"), " ").getItem(0))
      .groupBy(col("w1")).agg(sum(col("c_pair")).as("c_prefix"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val v = train.select(explode(tokens(col(textCol))).as("tok"))
      .agg(count_distinct(col("tok")).as("v")).head.getLong(0)
    val bc = train.sparkSession.sparkContext
      .broadcast(new LmTable(pairRows, prefixRows, v))
    org.apache.spark.sql.graft.CheckpointUtil.unpersist(trainPairs)
    bc
  }

  /** BPE-encode every document with a trained merge table (the consumer of
    * [[trainBpeMerges]] — together they close the tokenizer loop: train
    * merges on a corpus, encode any corpus with them, feed the subwords to
    * [[tokenizeToIds]] with a subword vocabulary). Returns
    * `(id, n_subwords, subwords: array<string>)`.
    *
    * The merge table rides a broadcast inside ONE native kernel call per
    * row ([[org.apache.spark.sql.graft.BpeEncodeDoc]]) — plan size is O(1)
    * in the merge count, so a real 32k-merge vocabulary plans exactly like
    * the 12-merge test table; encoding is scan-speed, zero shuffles. Per
    * token the kernel runs the standard BPE encode loop (merge the
    * lowest-rank adjacent pair until none remains), which for a TRAINED
    * table is provably the same as replaying merges once in rank order —
    * a trained pair's constituents are products of strictly lower ranks —
    * so the DuckDB oracle can replay it with the trainer's own replace
    * chain (equivalence spec-pinned). Tokens outside the trainer's
    * ASCII-printable domain pass through as single opaque subwords.
    *
    * `merges` must carry `(rank, left_sym, right_sym)` — exactly what
    * [[trainBpeMerges]] emits; it is collected (merge-table-sized driver
    * state, same bound as the trainer's own output) and broadcast once.
    */
  def bpeEncode(
      df: DataFrame,
      idCol: String,
      textCol: String,
      merges: DataFrame,
      byteLevel: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graft.{BpeEncodeDoc, BpeMergeTable}
    val table = merges.select(col("left_sym"), col("right_sym"), col("rank"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    val bc = df.sparkSession.sparkContext.broadcast(new BpeMergeTable(table))
    // family null policy (dedupWithinDoc/dedupSegments/lmScore): a NULL text
    // has zero tokens, not a NULL subword row — coalesce BEFORE the kernel
    // so null-propagation can't leak (id, null, null) past the oracle shape
    df.select(col(idCol).as("id"),
        BpeEncodeDoc(
          coalesce(tokens(col(textCol)), array().cast("array<string>")), bc, byteLevel)
          .as("subwords"))
      .select(col("id"), size(col("subwords")).as("n_subwords"), col("subwords"))
  }

  /** BPE merge-rank training (the classic byte-pair-encoding trainer): the
    * step between [[vocabCoverage]]'s frequency substrate and
    * [[tokenizeToIds]]' finished vocabulary. Returns one row per learned
    * merge — `(rank, left_sym, right_sym, merged, n)` with `n` the weighted
    * adjacent-pair count the rank was chosen at — fully DETERMINISTIC: the
    * winner is the max-count pair with ties broken by `(left, right)`
    * binary order, so any engine replays the table exactly.
    *
    * Algorithm (public knowledge — Sennrich et al. 2016 subword-NMT): words
    * are weighted by corpus frequency and start as character sequences; each
    * rank counts all adjacent symbol pairs (overlapping occurrences count,
    * `aaa` holds two `(a,a)`s), merges the winner greedily leftmost
    * non-overlapping in every word, repeats. Training words are lowercased
    * whitespace tokens; in the default mode they are restricted to
    * ASCII-printables (`[!-~]+`) — byte-safe char splitting in every engine,
    * and the standard trainer posture of normalizing before learning merges.
    * With `byteLevel = true` the restriction disappears: every token's UTF-8
    * bytes map through the reversible GPT-2 byte→unicode alphabet
    * ([[org.apache.spark.sql.graft.ByteAlphabet]]), a leading space byte
    * (`Ġ`) marks every non-doc-initial token, and merges are learned over
    * byte-chars — a multilingual corpus (the normal case) trains on ALL of
    * its text, and the encoder's output decodes byte-exactly back to the
    * space-joined token stream.
    *
    * Shape at 100 TB: the corpus is scanned ONCE for the word-frequency table;
    * every iteration after that is a narrow pair-count aggregation over the
    * VOCABULARY (pair generation in-row via the native `WordPairs` kernel,
    * counts weighted by `cnt` so corpus size never re-enters), one
    * 1-row driver collect for the winner, and a checkpointed one-column
    * rewrite of the symbol arrays ([[mergeRanks]]). The driver holds only
    * the merge table (`numMerges` rows); vocabulary state stays
    * distributed. Cost model for a production run: ranks are inherently
    * sequential (each merge depends on the counts AFTER the previous one),
    * so a 32k-merge train is 32k vocabulary-sized jobs — minutes-to-hours
    * of fixed scheduling overhead regardless of corpus size; budget
    * accordingly and train on a sample when the corpus is 100 TB (word
    * frequencies converge long before that) — `samplePercent` IS that knob:
    * the deterministic md5-bucket rule over the text column (the
    * [[Similarity.kmeansAssign]] `trainPercent` pattern), so the sampled
    * word table — and therefore the merge table — is a pure function of
    * (corpus, percent), reproducible across runs, engines, and
    * partitionings. A sample that selects zero rows falls back to the full
    * corpus (itself deterministic) rather than silently training an empty
    * tokenizer.
    */
  def trainBpeMerges(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      byteLevel: Boolean = false,
      samplePercent: Int = 100): DataFrame = {
    require(numMerges > 0, "numMerges must be positive")
    require(samplePercent > 0 && samplePercent <= 100,
      "samplePercent must be in (0, 100]")
    val trainDf =
      if (samplePercent >= 100) df
      else {
        val sampled = Sampling.hashSample(df, textCol, samplePercent)
        if (sampled.isEmpty) df else sampled
      }
    val spark = df.sparkSession
    import org.apache.spark.sql.graft.{BpeMergeAdjacent, ByteSyms, WordPairs}
    // Byte mode trains over EVERY token — each word's UTF-8 bytes map
    // through the reversible [[org.apache.spark.sql.graft.ByteAlphabet]]
    // (GPT-2 bytes_to_unicode), so multilingual text participates instead of
    // falling out of the ASCII-printable filter. The inter-token space rides
    // as a leading Ġ byte-char on every token except a doc's first (the
    // GPT-2 pre-token convention, and what makes the encoder's subword
    // stream byte-decodable back to the space-joined tokens); prefixed and
    // unprefixed occurrences of a word are distinct training words, exactly
    // as in the original scheme. Alphabet chars never include the ASCII
    // space, so the space-joined pair keys below stay lossless in both
    // modes.
    // per-row-heavy word build (tokenize + rlike / byte mapping): spread
    // the narrow text projection so a single-split scan doesn't run it on
    // one core (no-op on multi-split — Par.spread, r20)
    val spreadText = Par.spread(trainDf.select(col(textCol).as("_tt")))
    val trainWords =
      if (byteLevel)
        spreadText.select(posexplode(tokens(col("_tt"))).as(Seq("pos", "word")))
          .select(when(col("pos") > 0, concat(lit(" "), col("word")))
            .otherwise(col("word")).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
          .select(col("cnt"), ByteSyms(col("word")).as("syms"))
      else
        spreadText.select(explode(tokens(col("_tt"))).as("word"))
          .filter(col("word").rlike("^[\\x21-\\x7e]+$"))
          .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
          .select(col("cnt"),
            transform(sequence(lit(1), length(col("word"))),
              i => col("word").substr(i, lit(1))).as("syms"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    mergeRanks(trainWords.localCheckpoint(), numMerges) { (words, rank) =>
      // symbols are space-free (ASCII-printables minus the space the pair
      // string joins on), so the "l r" pair string orders exactly like the
      // (l, r) tuple and splits back losslessly
      val top = words
        .select(col("cnt"), explode(WordPairs(col("syms"), 1)).as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
        .select(split(col("pair"), " ").getItem(0).as("l"),
          split(col("pair"), " ").getItem(1).as("r"), col("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      top.headOption.map { t => // None: every word is a single symbol
        val (l, r, n) = (t.getString(0), t.getString(1), t.getLong(2))
        merges += ((rank, l, r, l + r, n))
        BpeMergeAdjacent(col("syms"), l, r)
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left_sym", "right_sym", "merged", "n")
  }

  /** WordPiece trainer (public knowledge — Wu et al. 2016; the BERT
    * tokenizer family) — the third production tokenizer next to BPE and
    * unigram-LM, distinguished by its LIKELIHOOD-greedy merge criterion:
    * where BPE merges the most FREQUENT adjacent pair, WordPiece merges the
    * pair maximizing `count(l,r) / (count(l)·count(r))` — the pair whose
    * parts co-occur far beyond what their marginals predict (the
    * corpus-likelihood gain of fusing them), which is why WordPiece prefers
    * "unlikely-apart" morphemes over merely-common ones. Words seed as
    * `[c₁, ##c₂, ##c₃, …]` (the `##` continuation marker; `#`-containing
    * raw words are excluded — the marker is reserved), and a merge of
    * `(l, r)` produces `l + r-without-##` so word-initial and continuation
    * pieces stay distinct symbols throughout, exactly as deployed
    * vocabularies ship them.
    *
    * Exact-arithmetic selection (the engine-replay contract): the ratio is
    * compared as the quantized integral `score_q = ⌊n·10¹² / (n_l·n_r)⌋`
    * (DECIMAL(38,0) products — exact past 10¹³-count symbols), argmax by
    * `(score_q DESC, n DESC, l, r)` — a total order, so the whole merge
    * sequence replays bit-for-bit in any engine; no float ratio ever
    * enters. Returns `(rank, left_sym, right_sym, merged, n, score_q)`.
    *
    * Shape at 100 TB: the [[trainBpeMerges]] shape — ONE corpus scan
    * builds the word-frequency table (checkpointed), then each rank is two
    * vocabulary-sized aggregations (adjacent pairs + symbol marginals, the
    * marginal join riding the tiny pair table) and a 1-row collect; the
    * corpus never re-enters. Merge application is the same
    * [[org.apache.spark.sql.graft.BpeMergeAdjacent]] kernel with the
    * marker-stripped merged symbol.
    */
  def trainWordPieceMerges(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      samplePercent: Int = 100): DataFrame = {
    require(numMerges > 0, "numMerges must be positive")
    require(samplePercent > 0 && samplePercent <= 100,
      "samplePercent must be in (0, 100]")
    val trainDf =
      if (samplePercent >= 100) df
      else {
        val sampled = Sampling.hashSample(df, textCol, samplePercent)
        if (sampled.isEmpty) df else sampled
      }
    val spark = df.sparkSession
    import org.apache.spark.sql.graft.{BpeMergeAdjacent, WordPairs}
    // the word-frequency build is per-row heavy (tokenize + rlike per
    // token): spread the narrow text projection so a single-split scan
    // doesn't run it on one core (no-op on multi-split — Par.spread)
    val trainWords = Par.spread(trainDf.select(col(textCol).as("_tt")))
      .select(explode(tokens(col("_tt"))).as("word"))
      .filter(col("word").rlike("^[\\x21-\\x7e]+$") &&
        !col("word").contains("#"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        transform(sequence(lit(1), length(col("word"))), i =>
          when(i === 1, col("word").substr(i, lit(1)))
            .otherwise(concat(lit("##"), col("word").substr(i, lit(1)))))
          .as("syms"))
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long, Long)]
    mergeRanks(trainWords.localCheckpoint(), numMerges) { (words, rank) =>
      // the symbol-count table is ALPHABET-BOUNDED by construction at any
      // corpus scale (words pass the printable-ASCII filter, so symbols
      // are ≤ 94 bare + 94 ## single-char forms + one merged piece per
      // rank): collect it and attach nl/nr through a literal map instead
      // of two hash joins — a 10-merge train ran ~6 tiny AQE stages per
      // rank and was pure stage-latency at bench scale (r20; the values
      // are identical, so the oracle's per-rank replay is unchanged)
      val symCnt = words
        .select(col("cnt"), explode(col("syms")).as("s"))
        .groupBy(col("s")).agg(sum(col("cnt")).as("ns"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val symLit = typedLit(symCnt)
      val top = words
        .select(col("cnt"), explode(WordPairs(col("syms"), 1)).as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
        .select(split(col("pair"), " ").getItem(0).as("l"),
          split(col("pair"), " ").getItem(1).as("r"), col("n"))
        .withColumn("nl", element_at(symLit, col("l")))
        .withColumn("nr", element_at(symLit, col("r")))
        .withColumn("score_q",
          expr("(CAST(n AS DECIMAL(38,0)) * 1000000000000) div " +
            "(CAST(nl AS DECIMAL(38,0)) * nr)").cast("long"))
        .select(col("l"), col("r"), col("n"), col("score_q"))
        .orderBy(col("score_q").desc, col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      top.headOption.map { t =>
        val (l, r, n, sq) = (t.getString(0), t.getString(1), t.getLong(2), t.getLong(3))
        val merged = l + r.stripPrefix("##")
        merges += ((rank, l, r, merged, n, sq))
        BpeMergeAdjacent(col("syms"), l, r, merged)
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left_sym", "right_sym", "merged", "n", "score_q")
  }

  /** The per-rank merge loop shared by [[trainBpeMerges]] and
    * [[trainWordPieceMerges]], over the checkpointed word table `words0`
    * (`cnt`, `syms`). `pick(words, rank)` reads the current vocabulary and
    * returns its rank's rewrite of `syms`, or None when nothing is left to
    * merge. Each rewrite checkpoints LAZILY, so it materializes inside the
    * next rank's first job — one scheduled job per rank, not two (r20).
    * The merge tables live on the driver, so nothing stays persisted.
    */
  private def mergeRanks(words0: DataFrame, numMerges: Int)(
      pick: (DataFrame, Int) => Option[Column]): Unit = {
    Fixpoint.iterate(words0, numMerges, ownsInit = true) { (words, i) =>
      pick(words, i + 1) match {
        case Some(syms) =>
          (words.withColumn("syms", syms).localCheckpoint(false), false)
        case None => (words, true)
      }
    }.release()
  }

  /** The WordPiece alphabet of a corpus: every word-initial character bare
    * and every continuation character in its `##` form, over the trainer's
    * word domain — the closed base vocabulary that makes greedy matching
    * total on in-domain training words. Union with
    * [[trainWordPieceMerges]]' `merged` column for the deployment
    * vocabulary.
    */
  def wordPieceAlphabet(df: DataFrame, textCol: String): DataFrame =
    Par.spread(df.select(col(textCol).as(textCol)))
      .select(explode(tokens(col(textCol))).as("word"))
      .filter(col("word").rlike("^[\\x21-\\x7e]+$") &&
        !col("word").contains("#"))
      .select(explode(
        transform(sequence(lit(1), length(col("word"))), i =>
          when(i === 1, col("word").substr(i, lit(1)))
            .otherwise(concat(lit("##"), col("word").substr(i, lit(1))))))
        .as("piece"))
      .distinct()

  /** WordPiece-encode documents with a trained vocabulary — the deployment
    * pair of [[trainWordPieceMerges]], mirroring [[bpeEncode]]'s surface:
    * `(id, n_subwords, subwords_str)`. The vocabulary (piece strings —
    * typically [[wordPieceAlphabet]] ∪ the trainer's `merged`) is collected
    * (driver state bounded by vocabulary size) and broadcast into ONE
    * codegen'd kernel call per row
    * ([[org.apache.spark.sql.graft.WordPieceEncodeDoc]]): greedy
    * longest-match-first per token, continuation positions probing their
    * `##` form, a matchless position making the WHOLE word `unk` (the
    * classic WordPiece stance); out-of-domain tokens pass through as single
    * opaque subwords. Plan size O(1) in vocabulary size, scan-speed, zero
    * shuffles on the document side.
    */
  def wordPieceEncode(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame, // single piece column (any name)
      maxWordLen: Int = 12,
      unk: String = "[UNK]"): DataFrame = {
    require(maxWordLen >= 1, "maxWordLen must be >= 1")
    val spark = df.sparkSession
    import org.apache.spark.sql.graft.{WordPieceEncodeDoc, WordPieceVocab}
    val pieces = vocab
      .select(col(vocab.columns.head).cast("string").as("p"))
      .filter(col("p").isNotNull).distinct()
      .collect().map(_.getString(0))
    val bc = spark.sparkContext.broadcast(new WordPieceVocab(pieces))
    // the greedy longest-match DP is per-row heavy: spread the (id, text)
    // projection so a single-split scan doesn't encode the corpus on one
    // core (measured r20: a 1.7 s single-task stage; no-op on multi-split)
    Par.spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        WordPieceEncodeDoc(tokens(col(textCol)), bc, maxWordLen, unk).as("_sw"))
      .select(col(idCol), size(col("_sw")).cast("int").as("n_subwords"),
        array_join(col("_sw"), " ").as("subwords_str"))
  }

  /** Unigram-LM tokenizer trainer (public knowledge — Kudo 2018, the
    * SentencePiece unigram model) in this engine's fixed-point lane: seed a
    * large candidate vocabulary from frequent substrings, then run EM
    * rounds of {Viterbi-segment every word with the current weights,
    * re-count piece usage, prune to the `vocabSize` most-used pieces} —
    * the worst-loss pieces each round are the ones the best segmentations
    * stopped using. Returns the final vocabulary as `(piece, n)` with `n`
    * the piece's usage count in the last round's optimal segmentations.
    *
    * Determinism contract (what makes the DuckDB oracle replay the WHOLE
    * train bit-exactly): the E-step objective is the exact-arithmetic
    * surrogate documented on [[org.apache.spark.sql.graft.UnigramSegmentWord]]
    * — (fewest pieces, greatest integer weight sum, smallest piece string)
    * — so no float log-prob ever enters; every count is an int64 sum; all
    * top-k cuts order by `(n DESC, piece ASC)`, a total order. Single
    * characters seen in training are never pruned (the closed-alphabet
    * guarantee every unigram trainer keeps so segmentation stays total);
    * they re-enter each round with their current usage, 0 if the optimal
    * paths stopped using them. Training words are lowercased whitespace
    * tokens in the ASCII-printable domain (the [[trainBpeMerges]] default
    * posture) of length ≤ `maxWordLen` — longer words are RARE by Zipf and
    * skipped rather than truncated (truncation would mint substrings the
    * corpus never contained).
    *
    * Shape at 100 TB: ONE corpus scan builds the word-frequency table
    * (checkpointed — every later pass runs over the vocabulary-sized word
    * table, corpus size never re-enters); the seed substring count is one
    * in-row explode + aggregation over that table; each EM round is one
    * codegen'd kernel pass (vocabulary behind a broadcast, the
    * [[org.apache.spark.sql.graft.BpeMergeTable]] pattern) + one
    * aggregation, with the ≤ `seedSize`-row usage table collected to the
    * driver for the prune — the corpus-sized side never shuffles after the
    * first scan. Unlike BPE's inherently sequential 32k merge ranks, the
    * whole train is `emRounds + 1` jobs regardless of vocabulary size —
    * the reason SentencePiece trains unigram vocabularies faster than BPE
    * at equal size.
    */
  def trainUnigramVocab(
      df: DataFrame,
      textCol: String,
      vocabSize: Int,
      seedSize: Int = 0, // <= 0: defaults to 4 * vocabSize
      emRounds: Int = 2,
      maxPieceLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    require(vocabSize >= 1, "vocabSize must be >= 1")
    require(emRounds >= 1, "emRounds must be >= 1")
    require(maxPieceLen >= 1 && maxPieceLen <= maxWordLen,
      "maxPieceLen must be in [1, maxWordLen]")
    val actualSeed = if (seedSize <= 0) 4 * vocabSize else seedSize
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.graft.{UnigramSegmentWord, UnigramVocab}
    val words = df.select(explode(tokens(col(textCol))).as("word"))
      .filter(col("word").rlike("^[\\x21-\\x7e]+$") &&
        length(col("word")) <= maxWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // seed substrate: every substring of length 1..maxPieceLen, weighted by
    // word frequency, overlapping occurrences each counted — one in-row
    // double transform, no kernel needed
    val subs = words.select(col("cnt"), explode(flatten(
        transform(sequence(lit(1), length(col("word"))), i =>
          transform(
            sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - i + lit(1))),
            l => col("word").substr(i, l))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("n"))
      .localCheckpoint()
    val seedTop = subs.orderBy(col("n").desc, col("piece")).limit(actualSeed)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // the closed alphabet: every single character seen in training
    val chars = subs.filter(length(col("piece")) === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    org.apache.spark.sql.graft.CheckpointUtil.unpersist(subs)
    var vocab: Map[String, Long] = (chars ++ seedTop).toMap
    var round = 1
    while (round <= emRounds) {
      val bc = spark.sparkContext.broadcast(new UnigramVocab(vocab.toArray, maxPieceLen))
      // E-step: usage counts along each word's optimal segmentation;
      // M-step + prune: usage becomes next round's weights, top vocabSize
      // survive, the alphabet always does (with its current usage, 0 when
      // the optimal paths stopped using a character)
      val useAll = words
        .select(col("cnt"), explode(UnigramSegmentWord(col("word"), bc)).as("piece"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      bc.unpersist(false)
      val top = useAll.toSeq.sortBy { case (p, n) => (-n, p) }.take(vocabSize)
      vocab = (chars.map { case (c, _) => c -> useAll.getOrElse(c, 0L) } ++ top).toMap
      round += 1
    }
    org.apache.spark.sql.graft.CheckpointUtil.unpersist(words)
    vocab.toSeq.toDF("piece", "n")
  }

  /** Unigram-encode documents with a trained vocabulary — the deployment
    * pair of [[trainUnigramVocab]], mirroring [[bpeEncode]]'s surface:
    * `(id, n_subwords, subwords)`. The vocabulary (exactly what the
    * trainer emits: `(piece, n)`) is collected — driver state bounded by
    * the vocabulary size, the same bound the trainer itself holds — and
    * broadcast into ONE codegen'd kernel call per row
    * ([[org.apache.spark.sql.graft.UnigramEncodeDoc]]): plan size is O(1)
    * in vocabulary size, encoding is scan-speed, zero shuffles. Each token
    * segments by the trainer's exact Viterbi objective, so
    * train-then-encode over the same corpus reproduces the E-step
    * segmentations bit-for-bit (what lets the oracle replay this as one
    * more dp round); out-of-domain tokens (non-printable, over-long,
    * unseen character) pass through as single opaque subwords.
    */
  def unigramEncode(
      df: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame, // (piece, n) — trainUnigramVocab's output
      maxPieceLen: Int = 4,
      maxWordLen: Int = 12): DataFrame = {
    import org.apache.spark.sql.graft.{UnigramEncodeDoc, UnigramVocab}
    val entries = vocab.select(col("piece"), col("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val bc = df.sparkSession.sparkContext.broadcast(
      new UnigramVocab(entries, maxPieceLen))
    // family null policy (bpeEncode): NULL text is zero tokens, not a NULL
    // subword row
    df.select(col(idCol).as("id"),
        UnigramEncodeDoc(
          coalesce(tokens(col(textCol)), array().cast("array<string>")),
          bc, maxWordLen).as("subwords"))
      .select(col("id"), size(col("subwords")).as("n_subwords"), col("subwords"))
  }
}
