package graft
package queries

import graft.ops.TextAnalysis

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import PlanBudget._

/** Text kernels: statistics, quality, language id, tokenizers (BPE, WordPiece,
  * unigram), line and Gopher filters, HTML extraction, URL canonicalization,
  * PII redaction, vocabularies and LM scores.
  */
object TextQueries extends QueryFamily {

  private def textStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(docs(s, dir), "doc_id", "text")
  query("text_stats", textStats, Shuffles(0))(
    s"""WITH $toksCte
       |SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens,
       |  len(list_distinct(toks)) AS n_distinct_tokens,
       |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
       |  len(list_filter(toks, x -> len(x) >= 4)) AS n_long_tokens
       |FROM t""".stripMargin)

  private[queries] def sqlList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString("[", ", ", "]")

  private[queries] lazy val allStops = sqlList(TextAnalysis.stopwords.values.flatten.toSeq.distinct)

  private def textQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(docs(s, dir), "doc_id", "text")
  query("text_quality", textQuality, Shuffles(0))(
    s"""WITH $toksCte,
       |c AS (SELECT doc_id, len(toks) AS n_tokens,
       |  len(list_filter(toks, x -> list_contains($allStops, x))) AS n_stopwords,
       |  len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
       |  len(list_distinct(toks)) AS n_distinct_tokens,
       |  length(text) AS n_chars FROM t)
       |SELECT doc_id, n_tokens, n_stopwords, n_punct, n_distinct_tokens,
       |  round(
       |    least(n_tokens / 20.0, 1.0) * 0.25 +
       |    (1.0 - least(n_punct / greatest(CAST(n_chars AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.25 +
       |    (n_distinct_tokens / greatest(CAST(n_tokens AS DOUBLE), 1.0)) * 0.25 +
       |    least(n_stopwords / greatest(CAST(n_tokens AS DOUBLE), 1.0) * 5.0, 1.0) * 0.25,
       |    6) AS quality_score
       |FROM c""".stripMargin)

  private def textLangid(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.languageId(docs(s, dir), "doc_id", "text")
  query("text_langid", textLangid, Shuffles(0)) {
    val hits = TextAnalysis.stopwords.keys.toSeq.sorted.map(l =>
      s"len(list_filter(toks, x -> list_contains(${sqlList(TextAnalysis.stopwords(l))}, x)))" +
        s" / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS s_$l").mkString(",\n  ")
    s"""WITH $toksCte,
       |s AS (SELECT doc_id,
       |  $hits
       |FROM t),
       |b AS (SELECT doc_id, s_de, s_en, s_es, s_fr,
       |  greatest(s_de, s_en, s_es, s_fr) AS best FROM s)
       |SELECT doc_id,
       |  CASE WHEN best = 0 THEN 'und'
       |       WHEN s_fr = best THEN 'fr'
       |       WHEN s_es = best THEN 'es'
       |       WHEN s_en = best THEN 'en'
       |       ELSE 'de' END AS lang,
       |  round(best, 6) AS confidence
       |FROM b""".stripMargin
  }

  /** The German-stopword tail planted on every 11th doc for the
    * language-consistency row — 60 tokens, so at chunkTokens=50 every
    * planted doc gains at least one chunk whose MAJORITY is German.
    */
  private def langMixTail: String =
    (1 to 3).flatMap(_ => TextAnalysis.stopwords("de")).mkString(" ")

  /** Mixed-language detection: fixed 50-token chunks language-ID
    * independently, per-doc consistency report — the planted German tails
    * must flag `mixed` wherever the base doc identifies as a different
    * language, and the whole chain (chunking, per-chunk stopword votes,
    * majority, ppm) replays in DuckDB.
    */
  private def langMixQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).withColumn("text",
      when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" " + langMixTail)))
        .otherwise(col("text")))
    TextAnalysis.languageConsistency(d, "doc_id", "text", chunkTokens = 50)
  }
  // chunking + per-chunk votes are staged scan-speed projections; the
  // (id, lang) count agg (1) + the per-id majority re-agg (1)
  query("lang_mix", langMixQ, Shuffles(2)) {
    // per-chunk langid votes, per-doc majority + mixed flag; the ladder
    // order mirrors greatest(struct)'s largest-lang tie-break
    val hits = TextAnalysis.stopwords.keys.toSeq.sorted.map(l =>
      s"len(list_filter(ctoks, x -> list_contains(${sqlList(TextAnalysis.stopwords(l))}, x)))" +
        s" / greatest(CAST(len(ctoks) AS DOUBLE), 1.0) AS s_$l").mkString(",\n  ")
    s"""WITH u AS (SELECT doc_id,
       |  CASE WHEN doc_id % 11 = 0 THEN text || ' $langMixTail'
       |       ELSE text END AS text
       |  FROM documents),
       |t2 AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |    x -> len(x) > 0) AS toks FROM u),
       |cxl AS (SELECT doc_id, unnest(list_transform(range(0, len(toks), 50),
       |  s2 -> list_slice(toks, s2 + 1, least(s2 + 50, len(toks))))) AS ctoks
       |  FROM t2 WHERE len(toks) > 0),
       |sc AS (SELECT doc_id,
       |  $hits
       |FROM cxl),
       |b2 AS (SELECT doc_id, s_de, s_en, s_es, s_fr,
       |  greatest(s_de, s_en, s_es, s_fr) AS best FROM sc),
       |lg AS (SELECT doc_id,
       |  CASE WHEN best = 0 THEN 'und'
       |       WHEN s_fr = best THEN 'fr'
       |       WHEN s_es = best THEN 'es'
       |       WHEN s_en = best THEN 'en'
       |       ELSE 'de' END AS lang FROM b2),
       |pl AS (SELECT doc_id, lang, count(*) AS c FROM lg GROUP BY 1, 2),
       |ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN lang <> 'und' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_langs FROM pl GROUP BY doc_id),
       |tp AS (SELECT doc_id, lang AS top_lang, c FROM (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY c DESC, lang ASC) AS rn FROM pl) WHERE rn = 1)
       |SELECT ag.doc_id AS id, n_chunks, n_langs, top_lang,
       |  CAST(c * 1000000 // n_chunks AS BIGINT) AS top_lang_chunk_ppm,
       |  n_langs > 1 AS mixed
       |FROM ag JOIN tp USING (doc_id)""".stripMargin
  }

  // trained char-bigram langid: labels from the corpus's own lang column,
  // train on 4/5 of the docs (doc_id % 5 != 0), score ALL docs; minCount=2
  // exercises the prune-after-denominators contract
  private def textLangidModel(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    TextAnalysis.languageIdModel(
      d.filter(col("doc_id") % 5 =!= 0), "lang", "text",
      d, "doc_id", "text", minCount = 2L)
  }
  // doc side: per-(id,pair) compress (1), per-(id,lang) sums (1), per-id
  // argmax (1); broadcast model sides: prefix re-agg (1) + per-lang
  // distinct-char vocab (2: expand hash + re-agg) — the pair table itself
  // hangs off the checkpoint
  // the k-row language table (k = languages, ≤ a few dozen ever): the
  // scalar-attach idiom at k rows — the nested loop runs once per partition
  query("text_langid_model", textLangidModel, ShufflesWithBnlj(6))(
    // full train+score replay of the per-language char-bigram LM: the SAME
    // char-token chain (lower/trim → strip non-[a-z] → space after every
    // char), per-language pair/prefix/vocab tables with minCount=2 pruning
    // AFTER the denominators, fixed-point q, and the (score desc, lang)
    // argmax — everything integer, so the match is hash-exact
    """WITH ct AS (SELECT doc_id, lang, list_filter(string_split_regex(
      |  regexp_replace(regexp_replace(lower(trim(text)), '[^a-z]+', '', 'g'),
      |    '(.)', '\1 ', 'g'), '\s+'), x -> len(x) > 0) AS ctoks FROM documents),
      |tr AS (SELECT * FROM ct WHERE doc_id % 5 != 0),
      |tp AS (SELECT lang, unnest(list_transform(range(1, len(ctoks)),
      |  i -> ctoks[i] || ' ' || ctoks[i+1])) AS pair FROM tr),
      |pc AS (SELECT lang, pair, count(*) AS c_pair,
      |  string_split(pair, ' ')[1] AS c1 FROM tp GROUP BY lang, pair),
      |pfx AS (SELECT lang, c1, CAST(sum(c_pair) AS BIGINT) AS c_prefix
      |  FROM pc GROUP BY lang, c1),
      |pt AS (SELECT lang, pair, c_pair FROM pc WHERE c_pair >= 2),
      |vs AS (SELECT lang, greatest(count(DISTINCT ch), 1) AS v
      |  FROM (SELECT lang, unnest(ctoks) AS ch FROM tr) GROUP BY lang),
      |dp AS (SELECT doc_id, pair, count(*) AS c_doc FROM
      |  (SELECT doc_id, unnest(list_transform(range(1, len(ctoks)),
      |    i -> ctoks[i] || ' ' || ctoks[i+1])) AS pair FROM ct)
      |  GROUP BY doc_id, pair),
      |sq AS (SELECT dp.doc_id, vs.lang, dp.c_doc,
      |    CAST(dp.c_doc * (((coalesce(pt.c_pair, 0) + 1) * 1048576)
      |      // (coalesce(pfx.c_prefix, 0) + vs.v)) AS BIGINT) AS q
      |  FROM dp CROSS JOIN vs
      |  LEFT JOIN pt ON pt.lang = vs.lang AND pt.pair = dp.pair
      |  LEFT JOIN pfx ON pfx.lang = vs.lang
      |    AND pfx.c1 = string_split(dp.pair, ' ')[1]),
      |agg AS (SELECT doc_id, lang, CAST(sum(c_doc) AS BIGINT) AS n_bigrams,
      |  CAST(coalesce(sum(q), 0) AS BIGINT) AS score_sum
      |  FROM sq GROUP BY doc_id, lang),
      |best AS (SELECT doc_id, lang, n_bigrams, score_sum,
      |  row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score_sum DESC, lang) AS rn FROM agg)
      |SELECT d.doc_id AS id,
      |  CASE WHEN coalesce(b.n_bigrams, 0) = 0 THEN 'und' ELSE b.lang END AS lang,
      |  CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(coalesce(b.score_sum, 0) AS BIGINT) AS score_sum
      |FROM documents d
      |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)""".stripMargin)

  private def docFingerprint(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprintDocs(docs(s, dir), "doc_id", "text")
  query("doc_fingerprint", docFingerprint, Shuffles(0))(
    s"""WITH $toksCte
       |SELECT doc_id,
       |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
       |FROM t""".stripMargin)

  private def ngramStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramStats(docs(s, dir), "doc_id", "text", n = 3, topK = 50)
  query("ngram_stats", ngramStats, Shuffles(2))(
    s"""WITH $toksCte,
       |g AS (SELECT doc_id, unnest(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
      |    WHEN len(toks) >= 3
       |  THEN list_transform(range(1, len(toks) - 1),
       |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |  ELSE [array_to_string(toks, ' ')] END) AS ngram FROM t)
       |SELECT ngram, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
       |FROM g GROUP BY 1 ORDER BY n_occurrences DESC, ngram LIMIT 50""".stripMargin)

  private[queries] def packSequences(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.packSequences(docs(s, dir), "doc_id", "text",
      tokenBudget = 512, partitionKey = "source")
  query("pack_sequences", packSequences, Shuffles(1))(
    s"""WITH $toksCte
       |SELECT source, doc_id, len(toks) AS n_tokens,
       |  CAST(coalesce(sum(len(toks)) OVER (PARTITION BY d.source ORDER BY d.doc_id
       |    ROWS UNBOUNDED PRECEDING) - len(toks), 0) AS BIGINT) AS start_offset,
       |  CAST(floor((coalesce(sum(len(toks)) OVER (PARTITION BY d.source
       |    ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING) - len(toks), 0)) / 512)
       |    AS BIGINT) AS bin
       |FROM t JOIN documents d USING (doc_id)""".stripMargin)

  // BPE trainer replay (bpe_merges): words_k carries each vocabulary word
  // as a \x01tok\x02-wrapped symbol string, so DuckDB's left-to-right
  // non-overlapping replace() IS the greedy leftmost merge apply; per rank,
  // p_k counts adjacent pairs weighted by word frequency, m_k picks the
  // deterministic winner (max n, ties to (l, r) binary order), w_k rewrites.
  // byte-level replay pieces (ByteAlphabet.scala:26-41, the GPT-2
  // bytes_to_unicode table): a byte value b maps to chr(b) when printable
  // (0x21-0x7e, 0xa1-0xac, 0xae-0xff) and to chr(256 + rank-among-excluded)
  // otherwise — ranks: 0x00-0x20 → 0-32, 0x7f-0xa0 → 33-66 (chr(162+b)),
  // 0xad → 67 (chr(323))
  private def byteAlpha(b: String): String =
    s"CASE WHEN ($b BETWEEN 33 AND 126) OR ($b BETWEEN 161 AND 172) " +
      s"OR ($b >= 174 AND $b <= 255) THEN chr($b) " +
      s"WHEN $b <= 32 THEN chr(256 + $b) WHEN $b = 173 THEN chr(323) " +
      s"ELSE chr(162 + $b) END"

  // UTF-8 encoder in SQL: a codepoint becomes its 1-4 bytes arithmetically,
  // each byte through the alphabet — so list element i of the result is
  // EXACTLY ByteAlphabet.syms' symbol for that byte
  private def utf8Alpha(cp: String): String = {
    def lst(bs: Seq[String]) = bs.map(b => byteAlpha(s"($b)")).mkString("[", ", ", "]")
    s"CASE WHEN $cp < 128 THEN [${byteAlpha(cp)}] " +
      s"WHEN $cp < 2048 THEN ${lst(Seq(s"192 + $cp // 64", s"128 + $cp % 64"))} " +
      s"WHEN $cp < 65536 THEN ${lst(Seq(s"224 + $cp // 4096",
        s"128 + ($cp // 64) % 64", s"128 + $cp % 64"))} " +
      s"ELSE ${lst(Seq(s"240 + $cp // 262144", s"128 + ($cp // 4096) % 64",
        s"128 + ($cp // 64) % 64", s"128 + $cp % 64"))} END"
  }

  // a word as its wrapped byte-symbol string: every UTF-8 byte of every
  // character, each chr(1)..chr(2)-wrapped alphabet char
  private def byteSymsSql(word: String): String =
    s"""list_aggregate(list_transform(
       |    flatten(list_transform(range(1, len($word) + 1),
       |      i -> ${utf8Alpha(s"ord($word[i])")})),
       |    c -> chr(1) || c || chr(2)), 'string_agg', '')""".stripMargin

  // DuckDB inlines a CTE at EVERY reference site, and each BPE rank's
  // w_k/d_k references its predecessor twice (pair count + rewrite) — so
  // inlined evaluation duplicates the whole prefix per rank, 2^numMerges
  // copies of the seed CTE (measured: ASCII 12-rank train 142 s at sf0.01;
  // 0.2 s with MATERIALIZED, identical rows). Pin linear evaluation.
  private def materialize(ctes: String): String =
    ctes.replaceAll("""(?m)^(\s*)(\w+) AS \(""", "$1$2 AS MATERIALIZED (")

  private def bpeTrainCtes(numMerges: Int, byteMode: Boolean = false): String = {
    val parts =
      if (byteMode)
        // byte mode trains on EVERY token (no printable filter); a leading
        // space byte (→ Ġ) marks every non-doc-initial token, and
        // prefixed/unprefixed occurrences are distinct training words
        scala.collection.mutable.ArrayBuffer(
          """wcnt AS (
            |  SELECT w AS word, count(*) AS cnt FROM (
            |    SELECT CASE WHEN pos > 1 THEN ' ' || tok ELSE tok END AS w FROM (
            |      SELECT unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
            |      FROM tb))
            |  GROUP BY w)""".stripMargin,
          s"""w_0 AS (
             |  SELECT cnt, ${byteSymsSql("word")} AS s
             |  FROM wcnt)""".stripMargin)
      else scala.collection.mutable.ArrayBuffer(
      """wcnt AS (
        |  SELECT w AS word, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> len(x) > 0)) AS w FROM documents)
        |  WHERE regexp_matches(w, '^[!-~]+$') GROUP BY w)""".stripMargin,
      """w_0 AS (
        |  SELECT cnt, list_aggregate(list_transform(range(1, len(word) + 1),
        |    i -> chr(1) || word[i] || chr(2)), 'string_agg', '') AS s
        |  FROM wcnt)""".stripMargin)
    for (k <- 1 to numMerges) {
      parts += s"""p_$k AS (
        |  SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS n FROM (
        |    SELECT cnt, unnest(list_transform(range(1, len(toks)),
        |      i -> struct_pack(l := toks[i], r := toks[i+1]))) AS p
        |    FROM (SELECT cnt, string_split(trim(s, chr(1) || chr(2)),
        |                                   chr(2) || chr(1)) AS toks
        |          FROM w_${k - 1}))
        |  GROUP BY p.l, p.r)""".stripMargin
      parts += s"m_$k AS (SELECT l, r, n FROM p_$k ORDER BY n DESC, l, r LIMIT 1)"
      parts += s"""w_$k AS (
        |  SELECT cnt, replace(s, chr(1) || m.l || chr(2) || chr(1) || m.r || chr(2),
        |                         chr(1) || m.l || m.r || chr(2)) AS s
        |  FROM w_${k - 1}, m_$k m)""".stripMargin
    }
    parts.mkString(",\n")
  }

  private def bpeMergesSelect(numMerges: Int): String = (1 to numMerges).map(k =>
    s"SELECT CAST($k AS INT) AS rank, l AS left_sym, r AS right_sym, " +
      s"l || r AS merged, n FROM m_$k").mkString(" UNION ALL ")

  /** BPE trainer on the corpus: the first 12 merge ranks, which the oracle
    * replays exactly (deterministic winner + tie-break — see
    * [[TextAnalysis.trainBpeMerges]]).
    */
  private def bpeMerges(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.trainBpeMerges(docs(s, dir), "text", numMerges = 12)
  query("bpe_merges", bpeMerges, BuiltByJobs)(
    s"WITH ${materialize(bpeTrainCtes(12))}\n${bpeMergesSelect(12)}")

  // doc-side encode replay: every token becomes its \x01char\x02-wrapped
  // string (non-ASCII-printable tokens wrap WHOLE — one opaque subword, no
  // merge can reach inside), tokens join with chr(3) so a merge pattern
  // can never span a token boundary, then the trained merges apply once in
  // rank order via the same replace trick the trainer uses
  private def bpeEncodeCtes(numMerges: Int, byteMode: Boolean = false): String = {
    val seed =
      if (byteMode)
        // byte mode: every token wraps per-BYTE (space-prefixed when not
        // doc-initial — the kernel's t==0 rule); chr(3) still separates
        // tokens so no merge pattern can span a boundary
        s"""d_0 AS (SELECT doc_id, string_agg(ws, chr(3) ORDER BY pos) AS s FROM (
           |  SELECT doc_id, pos, ${byteSymsSql("word")} AS ws
           |  FROM (SELECT doc_id, pos,
           |      CASE WHEN pos > 1 THEN ' ' || tok ELSE tok END AS word
           |    FROM (SELECT doc_id, unnest(toks) AS tok,
           |        generate_subscripts(toks, 1) AS pos FROM tb)))
           |  GROUP BY doc_id)""".stripMargin
      else
      """d_0 AS (SELECT doc_id, list_aggregate(list_transform(toks, tok ->
        |  CASE WHEN regexp_matches(tok, '^[!-~]+$')
        |    THEN list_aggregate(list_transform(range(1, len(tok) + 1),
        |      i -> chr(1) || tok[i] || chr(2)), 'string_agg', '')
        |    ELSE chr(1) || tok || chr(2) END), 'string_agg', chr(3)) AS s
        |  FROM t WHERE len(toks) > 0)""".stripMargin
    val parts = scala.collection.mutable.ArrayBuffer(seed)
    for (k <- 1 to numMerges)
      parts += s"""d_$k AS (SELECT doc_id, CASE WHEN m.l IS NULL THEN s ELSE
        |  replace(s, chr(1) || m.l || chr(2) || chr(1) || m.r || chr(2),
        |             chr(1) || m.l || m.r || chr(2)) END AS s
        |  FROM d_${k - 1} LEFT JOIN m_$k m ON TRUE)""".stripMargin
    parts += s"""enc AS (SELECT doc_id,
      |  string_split(trim(replace(s, chr(3), ''), chr(1) || chr(2)),
      |               chr(2) || chr(1)) AS sw
      |  FROM d_$numMerges)""".stripMargin
    parts.mkString(",\n")
  }

  /** End-to-end subword tokenization: train 12 merges on the corpus, then
    * BPE-encode the same corpus with them (oracle replays both halves; the
    * comma-free space join is lossless — subwords never contain whitespace).
    */
  private def bpeEncodeQ(s: SparkSession, dir: String): DataFrame = {
    val merges = TextAnalysis.trainBpeMerges(docs(s, dir), "text", numMerges = 12)
    TextAnalysis.bpeEncode(docs(s, dir), "doc_id", "text", merges)
      .select(col("id").as("doc_id"), col("n_subwords"),
        array_join(col("subwords"), " ").as("subwords_str"))
  }
  query("bpe_encode", bpeEncodeQ, BuiltByJobs)(
    s"""WITH ${materialize(s"""$toksCte,
       |${bpeTrainCtes(12)},
       |${bpeEncodeCtes(12)}""".stripMargin)}
       |SELECT d.doc_id, CAST(coalesce(len(sw), 0) AS INT) AS n_subwords,
       |  coalesce(array_to_string(sw, ' '), '') AS subwords_str
       |FROM documents d LEFT JOIN enc USING (doc_id)""".stripMargin)

  // WordPiece train replay: ##-seeded symbols, per-rank pair AND marginal
  // counts, the likelihood argmax in quantized HUGEINT (n·10¹² // nl·nr),
  // the marker-stripped merged symbol — rank by rank, the bpeTrainCtes
  // replace-apply discipline
  private def wordPieceTrainCtes(numMerges: Int): String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      """wpw AS (
        |  SELECT w AS word, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      x -> len(x) > 0)) AS w FROM documents)
        |  WHERE regexp_matches(w, '^[!-~]+$') AND NOT contains(w, '#')
        |  GROUP BY w)""".stripMargin,
      """wp_0 AS (
        |  SELECT cnt, list_aggregate(list_transform(range(1, len(word) + 1),
        |    i -> chr(1) || (CASE WHEN i = 1 THEN word[i]
        |                         ELSE '##' || word[i] END) || chr(2)),
        |    'string_agg', '') AS s
        |  FROM wpw)""".stripMargin)
    for (k <- 1 to numMerges) {
      parts += s"""wt_$k AS (SELECT cnt,
        |  string_split(trim(s, chr(1) || chr(2)), chr(2) || chr(1)) AS toks
        |  FROM wp_${k - 1})""".stripMargin
      parts += s"""wsc_$k AS (SELECT tok AS sym, CAST(sum(cnt) AS BIGINT) AS ns
        |  FROM (SELECT cnt, unnest(toks) AS tok FROM wt_$k) GROUP BY tok)""".stripMargin
      parts += s"""wpp_$k AS (
        |  SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS n FROM (
        |    SELECT cnt, unnest(list_transform(range(1, len(toks)),
        |      i -> struct_pack(l := toks[i], r := toks[i+1]))) AS p
        |    FROM wt_$k)
        |  GROUP BY p.l, p.r)""".stripMargin
      parts += s"""wm_$k AS (SELECT l, r, n,
        |  CAST(CAST(n AS HUGEINT) * 1000000000000
        |    // (CAST(sl.ns AS HUGEINT) * sr.ns) AS BIGINT) AS score_q,
        |  l || CASE WHEN r LIKE '##%' THEN substr(r, 3) ELSE r END AS merged
        |  FROM wpp_$k JOIN wsc_$k sl ON wpp_$k.l = sl.sym
        |  JOIN wsc_$k sr ON wpp_$k.r = sr.sym
        |  ORDER BY score_q DESC, n DESC, l, r LIMIT 1)""".stripMargin
      parts += s"""wp_$k AS (
        |  SELECT cnt, replace(s, chr(1) || m.l || chr(2) || chr(1) || m.r || chr(2),
        |                         chr(1) || m.merged || chr(2)) AS s
        |  FROM wp_${k - 1}, wm_$k m)""".stripMargin
    }
    parts.mkString(",\n")
  }

  private def wordPieceMergesSelect(numMerges: Int): String = (1 to numMerges).map(k =>
    s"SELECT CAST($k AS INT) AS rank, l AS left_sym, r AS right_sym, " +
      s"merged, n, score_q FROM wm_$k").mkString(" UNION ALL ")

  /** WordPiece trainer on the corpus: the first 10 likelihood-greedy merge
    * ranks — the `count(l,r)/(count(l)·count(r))` criterion in the
    * quantized integral lane, which the oracle replays rank by rank
    * including every score_q division and the (score_q, n, l, r) argmax.
    */
  private def wordPieceMergesQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.trainWordPieceMerges(docs(s, dir), "text", numMerges = 10)
  // the same per-rank checkpointed train loop (likelihood argmax collects
  // 1 row per rank); the encode query trains first, then the vocabulary
  // rides one broadcast into the scan-speed kernel
  query("wordpiece_merges", wordPieceMergesQ, BuiltByJobs)(
    s"WITH ${materialize(wordPieceTrainCtes(10))}\n${wordPieceMergesSelect(10)}")

  // WordPiece encode replay: deployment vocabulary = alphabet ∪ merged
  // ranks, then the greedy longest-match walk as a LAYERED dp (one layer
  // per consumed span, ≤ maxWordLen layers) over the distinct eligible
  // words — per layer, every candidate span length joins the vocabulary
  // and max(j) is the longest match; a matchless position fails the whole
  // word to [UNK] (pos = -1), the kernel's exact contract. Per-doc
  // reassembly passes out-of-domain tokens through opaque.
  private def wordPieceEncodeCtes(numMerges: Int, maxWordLen: Int): String = {
    val mergedUnion = (1 to numMerges)
      .map(k => s"SELECT merged AS piece FROM wm_$k").mkString(" UNION ")
    val parts = scala.collection.mutable.ArrayBuffer(
      """wpalpha AS (SELECT DISTINCT
        |    CASE WHEN i = 1 THEN word[CAST(i AS INT)]
        |         ELSE '##' || word[CAST(i AS INT)] END AS piece
        |  FROM (SELECT word, unnest(range(1, len(word) + 1)) AS i FROM wpw))""".stripMargin,
      s"wpvocab AS (SELECT piece FROM wpalpha UNION $mergedUnion)",
      s"wpuw AS (SELECT word FROM wpw WHERE len(word) <= $maxWordLen)",
      "wps_0 AS (SELECT word, 0 AS pos, '' AS acc FROM wpuw)")
    for (k <- 1 to maxWordLen) {
      parts += s"""wpc_$k AS (SELECT word, pos, acc,
        |    unnest(range(1, len(word) - pos + 1)) AS j
        |  FROM wps_${k - 1} WHERE pos >= 0 AND pos < len(word))""".stripMargin
      parts += s"""wpb_$k AS (SELECT word, pos, acc,
        |    max(CASE WHEN v.piece IS NOT NULL THEN j END) AS bj
        |  FROM wpc_$k c LEFT JOIN wpvocab v ON v.piece =
        |    CASE WHEN c.pos = 0 THEN substr(c.word, 1, CAST(c.j AS INT))
        |         ELSE '##' || substr(c.word, c.pos + 1, CAST(c.j AS INT)) END
        |  GROUP BY word, pos, acc)""".stripMargin
      parts += s"""wps_$k AS (
        |  SELECT word, pos, acc FROM wps_${k - 1}
        |    WHERE pos < 0 OR pos >= len(word)
        |  UNION ALL
        |  SELECT word,
        |    CASE WHEN bj IS NULL THEN -1 ELSE pos + CAST(bj AS INT) END,
        |    CASE WHEN bj IS NULL THEN NULL
        |         ELSE (CASE WHEN acc = '' THEN '' ELSE acc || ' ' END) ||
        |              (CASE WHEN pos = 0 THEN substr(word, 1, CAST(bj AS INT))
        |                    ELSE '##' || substr(word, pos + 1, CAST(bj AS INT))
        |               END) END
        |  FROM wpb_$k)""".stripMargin
    }
    parts += s"""wpseg AS (SELECT word,
      |  CASE WHEN pos < 0 THEN '[UNK]' ELSE acc END AS seg
      |  FROM wps_$maxWordLen)""".stripMargin
    parts += s"""wptok AS (SELECT doc_id, unnest(toks) AS tok,
      |  generate_subscripts(toks, 1) AS tpos FROM t)""".stripMargin
    parts += s"""wpenc AS (SELECT doc_id,
      |  string_agg(CASE WHEN seg IS NOT NULL THEN seg ELSE tok END,
      |    ' ' ORDER BY tpos) AS sws
      |  FROM wptok LEFT JOIN wpseg ON wpseg.word = wptok.tok
      |  GROUP BY doc_id)""".stripMargin
    parts.mkString(",\n")
  }

  /** End-to-end WordPiece tokenization: train 10 merges, build the
    * deployment vocabulary (alphabet ∪ merged pieces), greedy
    * longest-match-encode the same corpus — the oracle replays the train,
    * the vocabulary union, and the per-position longest-match walk (a
    * layered SQL dp, one layer per consumed span).
    */
  private def wordPieceEncodeQ(s: SparkSession, dir: String): DataFrame = {
    val merges = TextAnalysis.trainWordPieceMerges(docs(s, dir), "text",
      numMerges = 10)
    val vocab = TextAnalysis.wordPieceAlphabet(docs(s, dir), "text")
      .unionByName(merges.select(col("merged").as("piece")))
    TextAnalysis.wordPieceEncode(docs(s, dir), "doc_id", "text", vocab)
  }
  // the same per-rank checkpointed train loop (likelihood argmax collects
  // 1 row per rank); the encode query trains first, then the vocabulary
  // rides one broadcast into the scan-speed kernel
  query("wordpiece_encode", wordPieceEncodeQ, BuiltByJobs)(
    s"""WITH ${materialize(s"""$toksCte,
       |${wordPieceTrainCtes(10)},
       |${wordPieceEncodeCtes(10, 12)}""".stripMargin)}
       |SELECT d.doc_id,
       |  CAST(coalesce(len(string_split(sws, ' ')), 0) AS INT) AS n_subwords,
       |  coalesce(sws, '') AS subwords_str
       |FROM documents d LEFT JOIN wpenc USING (doc_id)""".stripMargin)

  /** Deterministic multilingualizer for the byte-level BPE rows: the fixture
    * corpus is ASCII, so byte mode's whole point (multi-byte UTF-8 in the
    * reversible GPT-2 alphabet) would go unexercised on the raw table. This
    * is a pure function of (doc_id, text) the DuckDB oracle replays verbatim:
    * every third doc gains 2-byte codepoints (a→ä, e→é via `translate`),
    * every seventh a tail with 3-byte CJK and a 4-byte emoji — all four
    * UTF-8 width branches of the alphabet participate in training AND
    * encoding, not just the compiled code path.
    */
  private def multilingualDocs(s: SparkSession, dir: String): DataFrame = {
    val base = when(col("doc_id") % 3 === 0, translate(col("text"), "ae", "äé"))
      .otherwise(col("text"))
    val mtext = when(col("doc_id") % 7 === 0, concat(base, lit(" 日本語 😀")))
      .otherwise(base)
    docs(s, dir).select(col("doc_id"), mtext.as("text"))
  }

  // the multilingualized corpus (multilingualDocs' transform, replayed) +
  // its token stream — inputs of the byte-mode BPE rows
  private lazy val multiDocCtes =
    """mdoc AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN mb || ' 日本語 😀' ELSE mb END AS text
      |  FROM (SELECT doc_id,
      |      CASE WHEN doc_id % 3 = 0 THEN translate(text, 'ae', 'äé')
      |           ELSE text END AS mb FROM documents)),
      |tb AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0) AS toks FROM mdoc)""".stripMargin

  /** Byte-level BPE trainer (GPT-2 `bytes_to_unicode` alphabet): the first
    * 12 merge ranks over the multilingualized corpus — every token trains
    * (no ASCII-printable filter), inter-token spaces ride as leading Ġ
    * byte-chars, and the oracle replays the byte→alphabet mapping as SQL
    * CASE arithmetic over UTF-8 codepoints plus the same wrapped-symbol
    * merge replay as `bpe_merges`.
    */
  private def bpeMergesBytes(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.trainBpeMerges(multilingualDocs(s, dir), "text",
      numMerges = 12, byteLevel = true)
  query("bpe_merges_bytes", bpeMergesBytes, BuiltByJobs)(
    s"WITH ${materialize(s"$multiDocCtes,\n${bpeTrainCtes(12, byteMode = true)}")}\n${bpeMergesSelect(12)}")

  /** End-to-end byte-level subword tokenization: train 12 byte-mode merges,
    * then byte-encode the same corpus. The space join is lossless in byte
    * mode too — the alphabet excludes ASCII space by construction (it maps
    * to Ġ), so no subword can contain the separator.
    */
  private def bpeEncodeBytesQ(s: SparkSession, dir: String): DataFrame = {
    val merges = TextAnalysis.trainBpeMerges(multilingualDocs(s, dir), "text",
      numMerges = 12, byteLevel = true)
    TextAnalysis.bpeEncode(multilingualDocs(s, dir), "doc_id", "text", merges,
      byteLevel = true)
      .select(col("id").as("doc_id"), col("n_subwords"),
        array_join(col("subwords"), " ").as("subwords_str"))
  }
  query("bpe_encode_bytes", bpeEncodeBytesQ, BuiltByJobs)(
    s"""WITH ${materialize(s"""$multiDocCtes,
       |${bpeTrainCtes(12, byteMode = true)},
       |${bpeEncodeCtes(12, byteMode = true)}""".stripMargin)}
       |SELECT d.doc_id, CAST(coalesce(len(sw), 0) AS INT) AS n_subwords,
       |  coalesce(array_to_string(sw, ' '), '') AS subwords_str
       |FROM documents d LEFT JOIN enc USING (doc_id)""".stripMargin)

  // bigram-LM train+score CTE chain ending in per-doc integer
  // (n_bigrams, score_sum) — shared by lm_score and pipeline_quality_mix
  private[queries] lazy val lmCtes =
    """tp AS (SELECT unnest(list_transform(range(1, len(toks)),
      |  i -> toks[i] || ' ' || toks[i+1])) AS pair FROM t),
      |pc AS (SELECT pair, count(*) AS c_pair,
      |  string_split(pair, ' ')[1] AS w1 FROM tp GROUP BY pair),
      |pfx AS (SELECT w1, CAST(sum(c_pair) AS BIGINT) AS c_prefix
      |  FROM pc GROUP BY w1),
      |pt AS (SELECT pair, c_pair FROM pc WHERE c_pair >= 2),
      |vs AS (SELECT greatest(count(DISTINCT tok), 1) AS v
      |  FROM (SELECT unnest(toks) AS tok FROM t)),
      |dp AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |  i -> struct_pack(pair := toks[i] || ' ' || toks[i+1], w1 := toks[i]))) AS p
      |  FROM t),
      |sq AS (SELECT dp.doc_id,
      |    CAST(((coalesce(pt.c_pair, 0) + 1) * 1048576)
      |      // (coalesce(pfx.c_prefix, 0) + vs.v) AS BIGINT) AS q
      |  FROM dp LEFT JOIN pt ON pt.pair = dp.p.pair
      |    LEFT JOIN pfx ON pfx.w1 = dp.p.w1, vs),
      |lmagg AS (SELECT d.doc_id, CAST(count(sq.q) AS BIGINT) AS n_bigrams,
      |  CAST(coalesce(sum(sq.q), 0) AS BIGINT) AS score_sum
      |  FROM documents d LEFT JOIN sq USING (doc_id) GROUP BY d.doc_id)""".stripMargin

  /** Bigram-LM quality scores, self-trained on the corpus with the pair
    * table pruned at minCount=2 (exercises the 100 TB broadcast knob); all
    * fixed-point integer arithmetic, oracle replays it exactly.
    */
  private def lmScoreQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lmScore(docs(s, dir), docs(s, dir), "doc_id", "text", minCount = 2)
      .withColumnRenamed("id", "doc_id")
  // bigram counts are checkpointed (train scanned once for pairs); the
  // static remainder is the prefix re-agg (1), the distinct-vocab scalar
  // (2: tok hash + Single), and the per-doc sum re-agg (1) — the scored
  // corpus side itself never shuffles before that final agg
  query("lm_score", lmScoreQ, ShufflesWithBnlj(4))(
    // bigram-LM replay: integer counts, add-one smoothing over the train
    // vocabulary, q in 2^20 fixed point with integer division — every
    // value before the final lm_q division is exact in both engines
    // (lmCtes is shared with pipeline_quality_mix, which buckets on the
    // same integer pair (n_bigrams, score_sum))
    s"""WITH $toksCte,
       |$lmCtes
       |SELECT doc_id, n_bigrams, score_sum,
       |  CASE WHEN n_bigrams = 0 THEN NULL
       |       ELSE CAST(score_sum AS DOUBLE) / n_bigrams END AS lm_q
       |FROM lmagg""".stripMargin)

  // Unigram-LM train replay (trainUnigramVocab's exact contract): layered
  // Viterbi dp per word position — dp{r}_{i} holds each word's single
  // best state at position i under the (k ASC, s DESC, path ASC) order,
  // which is dp-exact because the objective is extension-consistent (see
  // UnigramSegmentWord's scaladoc) — with the seed, both E-step usage
  // counts, and both alphabet-preserving prunes in pure integer SQL
  // withEncode appends one more Viterbi dp round against the FINAL
  // vocabulary (the deployment segmentation — train-then-encode over the
  // train corpus reuses the same eligible word set `uw`) plus the per-doc
  // reassembly: tokens explode with position, eligible words look up
  // their dp path, out-of-domain tokens stay opaque, and the doc's
  // subword stream re-flattens in token order (ends in CTE `uenc`)
  private def unigramCtes(vocabSize: Int, seedSize: Int, maxP: Int, maxW: Int,
      rounds: Int, withEncode: Boolean = false): String = {
    def dpChain(r: Int): String = {
      val parts = scala.collection.mutable.ArrayBuffer(
        s"dp${r}_0 AS (SELECT word, 0 AS k, CAST(0 AS BIGINT) AS s, '' AS path FROM uw)")
      for (i <- 1 to maxW) {
        val branches = (1 to math.min(maxP, i)).map { j =>
          s"""SELECT d.word, d.k + 1 AS k, d.s + v.n AS s,
             |  CASE WHEN d.path = '' THEN v.piece ELSE d.path || ' ' || v.piece END AS path
             |FROM dp${r}_${i - j} d JOIN uvocab$r v ON v.piece = substr(d.word, ${i - j + 1}, $j)
             |WHERE len(d.word) >= $i""".stripMargin
        }.mkString("\nUNION ALL\n")
        parts += s"""dp${r}_$i AS (SELECT word, k, s, path FROM (
          |  SELECT *, row_number() OVER (PARTITION BY word ORDER BY k, s DESC, path) AS rn
          |  FROM ($branches)) WHERE rn = 1)""".stripMargin
      }
      parts += ("seg" + r + " AS (" + (1 to maxW).map(i =>
        s"SELECT word, path FROM dp${r}_$i WHERE len(word) = $i")
        .mkString("\nUNION ALL\n") + ")")
      parts += s"""use$r AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM (
        |  SELECT w.cnt, unnest(string_split(s.path, ' ')) AS piece
        |  FROM seg$r s JOIN uw w USING (word)) GROUP BY piece)""".stripMargin
      parts.mkString(",\n")
    }
    def prune(r: Int): String =
      s"""utop$r AS (SELECT piece, n FROM use$r ORDER BY n DESC, piece LIMIT $vocabSize),
         |uvocab${r + 1} AS (SELECT piece, n FROM utop$r UNION
         |  SELECT c.piece, coalesce(u.n, CAST(0 AS BIGINT)) AS n
         |  FROM (SELECT piece FROM upieces WHERE len(piece) = 1) c
         |  LEFT JOIN use$r u USING (piece))""".stripMargin
    val base =
      s"""uw AS (
         |  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |      x -> len(x) > 0)) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[!-~]+$$') AND len(w) <= $maxW GROUP BY w),
         |upieces AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, substr(word, CAST(i.range AS INT), CAST(l.range AS INT)) AS piece
         |    FROM uw, range(1, ${maxW + 1}) i, range(1, ${maxP + 1}) l
         |    WHERE i.range + l.range - 1 <= len(word))
         |  GROUP BY piece),
         |useed AS (SELECT piece, n FROM upieces ORDER BY n DESC, piece LIMIT $seedSize),
         |uvocab1 AS (SELECT piece, n FROM useed UNION
         |  SELECT piece, n FROM upieces WHERE len(piece) = 1)""".stripMargin
    val train = base +: (1 to rounds).flatMap(r => Seq(dpChain(r), prune(r)))
    val encode = if (!withEncode) Seq.empty else Seq(
      dpChain(rounds + 1),
      s"""utok AS (SELECT doc_id, tok, pos FROM (
         |  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
         |  FROM t)),
         |usw AS (SELECT doc_id, pos,
         |  CASE WHEN s.path IS NOT NULL THEN string_split(s.path, ' ')
         |       ELSE [tok] END AS pieces
         |  FROM utok LEFT JOIN seg${rounds + 1} s ON s.word = utok.tok),
         |uenc AS (SELECT doc_id, flatten(list(pieces ORDER BY pos)) AS sw
         |  FROM usw GROUP BY doc_id)""".stripMargin)
    (train ++ encode).mkString(",\n")
  }

  /** Unigram-LM vocabulary train (Kudo 2018's EM-prune loop in the exact-
    * integer lane): substring seed → 2 rounds of {Viterbi E-step, usage
    * M-step, prune-to-48 with the alphabet kept}. The oracle replays the
    * ENTIRE train — seed counts, both layered Viterbi dps with the
    * (fewest-pieces, max-weight-sum, min-path) pick, both prunes — in pure
    * integer SQL; matching it pins every tie-break in the trainer.
    */
  private def unigramVocabQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.trainUnigramVocab(docs(s, dir), "text",
      vocabSize = 48, seedSize = 192, emRounds = 2)
  // EM rounds collect the bounded usage table per round while the frame
  // is BUILT; the returned vocabulary is a driver-local table (and the
  // encode query trains first, so it inherits the same build-time jobs)
  query("unigram_vocab", unigramVocabQ, BuiltByJobs)(
    // the whole unigram train replayed: every count, cut, and Viterbi
    // tie-break is integer/total-order, so the final table is bit-equal
    s"""WITH ${materialize(unigramCtes(48, 192, 4, 12, 2))}
       |SELECT piece, n FROM uvocab3""".stripMargin)

  /** Train-then-encode round trip: the corpus encoded with its own trained
    * unigram vocabulary. Every in-domain token segments by the trainer's
    * exact Viterbi objective (so the oracle replays this as one more dp
    * round against uvocab3); out-of-domain tokens pass through opaque.
    */
  private def unigramEncodeQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val vocab = TextAnalysis.trainUnigramVocab(d, "text",
      vocabSize = 48, seedSize = 192, emRounds = 2)
    TextAnalysis.unigramEncode(d, "doc_id", "text", vocab)
      .select(col("id").as("doc_id"), col("n_subwords"),
        array_join(col("subwords"), " ").as("subwords_str"))
  }
  // EM rounds collect the bounded usage table per round while the frame
  // is BUILT; the returned vocabulary is a driver-local table (and the
  // encode query trains first, so it inherits the same build-time jobs)
  query("unigram_encode", unigramEncodeQ, BuiltByJobs)(
    // the full train REPLAYED plus one deployment dp round + per-doc
    // reassembly; out-of-domain tokens ride through opaque
    s"""WITH ${materialize(s"$toksCte,\n${unigramCtes(48, 192, 4, 12, 2, withEncode = true)}")}
       |SELECT d.doc_id, CAST(coalesce(len(sw), 0) AS INT) AS n_subwords,
       |  coalesce(array_to_string(sw, ' '), '') AS subwords_str
       |FROM documents d LEFT JOIN uenc USING (doc_id)""".stripMargin)

  /** Deterministic multi-line synthesis for the C4 line filter: 12-token
    * segments become lines, each ending in '.' UNLESS (doc_id + segIndex)
    * is divisible by 3 (those lines fail the terminal-punctuation rule);
    * every 4th doc gets a planted boilerplate line carrying a blocked
    * substring. Tail segments shorter than 3 tokens exercise the min-token
    * rule organically. The DuckDB twin rebuilds identical lines from token
    * positions.
    */
  /** The docsWithLines planting over ANY (doc_id, text) frame — shared by
    * the filter_lines query and the crawl-full capstone so the line
    * synthesis cannot drift between them. */
  private[graft] def withSyntheticLines(d: DataFrame): DataFrame = {
    val toks = graft.functions.tokens(col("text"))
    val nSeg = ceil(size(toks).cast("double") / 12).cast("int")
    val segs = transform(sequence(lit(0), nSeg - 1), i =>
      concat(array_join(slice(toks, i * 12 + 1, lit(12)), " "),
        when((col("doc_id") + i) % 3 =!= 0, lit(".")).otherwise(lit(""))))
    val withBlocked = when(col("doc_id") % 4 === 0,
      concat(array(lit("please enable javascript and accept our cookie policy.")),
        segs)).otherwise(segs)
    d.select(col("doc_id"),
      when(size(toks) > 0, array_join(withBlocked, "\n"))
        .otherwise(lit("")).as("text"))
  }

  private[queries] def docsWithLines(s: SparkSession, dir: String): DataFrame =
    withSyntheticLines(docs(s, dir).select(col("doc_id"), col("text")))

  // line-filter replay (the docsWithLines synthesis + the three C4
  // rules), shared by filter_lines and pipeline_crawl_clean; ends in
  // CTE `lf` (doc_id, text_kept, n_lines, n_kept)
  // the synthetic-line planting + C4 line filter, reading the `t` CTE
  // (doc_id, text, toks) — shared by filter_lines, pipeline_crawl_clean,
  // and the crawl-full capstone (which feeds its own `t`)
  private[queries] lazy val lineFilterChain =
    (s"""ex AS (SELECT doc_id, unnest(toks) AS tok,
       |  generate_subscripts(toks, 1) AS p FROM t),
       |segs AS (SELECT doc_id, CAST((p - 1) // 12 AS INT) AS pos,
       |  string_agg(tok, ' ' ORDER BY p) ||
       |    CASE WHEN (doc_id + CAST((p - 1) // 12 AS INT)) % 3 <> 0
       |      THEN '.' ELSE '' END AS line
       |  FROM ex GROUP BY doc_id, (p - 1) // 12),
       |withb AS (
       |  SELECT doc_id, -1 AS pos,
       |    'please enable javascript and accept our cookie policy.' AS line
       |  FROM t WHERE doc_id % 4 = 0 AND len(toks) > 0
       |  UNION ALL SELECT doc_id, pos, line FROM segs),
       |""".stripMargin +
      """kept AS (SELECT doc_id, pos, line FROM withb
       |  WHERE len(list_filter(string_split_regex(trim(line), '\s+'),
       |      x -> len(x) > 0)) >= 3
       |    AND right(trim(line), 1) IN ('.', '!', '?', '"')
       |    AND NOT contains(lower(line), 'javascript')
       |    AND NOT contains(lower(line), 'lorem ipsum')
       |    AND NOT contains(lower(line), '{')),
       |lagg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_kept,
       |  count(*) AS n_kept FROM kept GROUP BY doc_id),
       |nl AS (SELECT doc_id, count(*) AS n_lines FROM withb GROUP BY doc_id),
       |lf AS (SELECT t.doc_id, coalesce(lagg.text_kept, '') AS text_kept,
       |  CAST(coalesce(nl.n_lines, 0) AS BIGINT) AS n_lines,
       |  CAST(coalesce(lagg.n_kept, 0) AS BIGINT) AS n_kept
       |FROM t LEFT JOIN nl USING (doc_id) LEFT JOIN lagg USING (doc_id))""".stripMargin)

  private[queries] lazy val lineFilterCtes = toksCte + ",\n" + lineFilterChain

  private def filterLinesQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.filterLines(docsWithLines(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("text_kept"),
        col("n_lines"), col("n_kept"))
  query("filter_lines", filterLinesQuery, Shuffles(0))(
    // C4 line filter: rebuild the identical lines from token positions
    // (12-token segments + conditional '.' + the planted boilerplate
    // line), then apply the three rules — >= 3 tokens, terminal
    // punctuation, no blocked substring — and reassemble survivors
    s"""WITH $lineFilterCtes
       |SELECT doc_id, text_kept, n_lines, n_kept FROM lf""".stripMargin)

  /** Multi-line docs for the Gopher gate: 12-token segments where every
    * (doc_id+i)%5==0 line opens with a bullet, every (doc_id+i)%7==0 line
    * ends in an ellipsis instead of a period, and every 6th doc re-appends
    * its first line — so the bullet/ellipsis/duplicate-line rules all
    * genuinely bind and vary per doc.
    */
  private def docsWithGopherLines(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.functions.tokens(col("text"))
    val nSeg = ceil(size(toks).cast("double") / 12).cast("int")
    val segs = transform(sequence(lit(0), nSeg - 1), i =>
      concat(
        when((col("doc_id") + i) % 5 === 0, lit("- ")).otherwise(lit("")),
        array_join(slice(toks, i * 12 + 1, lit(12)), " "),
        when((col("doc_id") + i) % 7 === 0, lit("...")).otherwise(lit("."))))
    val withDup = when(col("doc_id") % 6 === 0, concat(segs, slice(segs, 1, 1)))
      .otherwise(segs)
    docs(s, dir).select(col("doc_id"),
      when(size(toks) > 0, array_join(withDup, "\n"))
        .otherwise(lit("")).as("text"))
  }

  // Gopher gate — the filter_gopher oracle thresholds and stats chain,
  // shared verbatim with the crawl-full capstone. The chain reads ANY
  // (doc_id, text) CTE; lines derive by the operator's own rule (split on
  // \n, drop blank-trim lines). Ends in CTE `gc`.
  private lazy val gWordsOk = "n_words >= 30 AND n_words <= 500"

  private lazy val gMeanOk =
    "n_word_chars * 100 >= 300 * n_words AND n_word_chars * 100 <= 1000 * n_words"

  private lazy val gAlphaOk = "n_alpha_words * 100 >= 80 * n_words"

  private lazy val gSymbolOk = "n_symbols * 100 <= 2 * n_words"

  private lazy val gBulletOk = "n_bullet_lines * 100 <= 15 * n_lines"

  private lazy val gEllipsisOk = "n_ellipsis_lines * 100 <= 20 * n_lines"

  private lazy val gDupOk = "(n_lines - n_distinct_lines) * 100 <= 10 * n_lines"

  private lazy val gStopOk = "n_stopword_hits >= 2"

  private[queries] lazy val gKeepCond =
    s"($gWordsOk) AND ($gMeanOk) AND ($gAlphaOk) AND ($gSymbolOk) AND " +
      s"($gBulletOk) AND ($gEllipsisOk) AND ($gDupOk) AND ($gStopOk)"

  private[queries] def gopherChain(docSrc: String): String =
    s"""gl AS (SELECT doc_id, unnest(list_filter(string_split(text, chr(10)),
       |    x -> len(trim(x)) > 0)) AS line FROM $docSrc),
       |gtk AS (SELECT doc_id, text,
       |  list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |    x -> len(x) > 0) AS toks2 FROM $docSrc),
       |gwc AS (SELECT doc_id, len(toks2) AS n_words,
       |  coalesce(list_sum(list_transform(toks2, x -> len(x))), 0) AS n_word_chars,
       |  len(list_filter(toks2, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
       |  len(list_filter(toks2, x -> list_contains($allStops, x))) AS n_stopword_hits,
       |  (len(text) - len(replace(text, '#', ''))) +
       |    (len(text) - len(replace(text, '…', ''))) +
       |    (len(text) - len(replace(text, '...', ''))) // 3 AS n_symbols
       |  FROM gtk),
       |glc AS (SELECT doc_id, count(*) AS n_lines,
       |  count(DISTINCT line) AS n_distinct_lines,
       |  count(*) FILTER (WHERE left(ltrim(line), 1) IN ('-', '*', '•'))
       |    AS n_bullet_lines,
       |  count(*) FILTER (WHERE right(rtrim(line), 3) = '...'
       |    OR right(rtrim(line), 1) = '…') AS n_ellipsis_lines
       |  FROM gl GROUP BY doc_id),
       |gc AS (SELECT gwc.doc_id, n_words, n_word_chars, n_alpha_words,
       |  n_stopword_hits, coalesce(n_lines, 0) AS n_lines,
       |  coalesce(n_distinct_lines, 0) AS n_distinct_lines,
       |  coalesce(n_bullet_lines, 0) AS n_bullet_lines,
       |  coalesce(n_ellipsis_lines, 0) AS n_ellipsis_lines, n_symbols
       |  FROM gwc LEFT JOIN glc USING (doc_id))""".stripMargin

  /** The Gopher doc-shape gate over the planted multi-line corpus, rule
    * verdicts emitted as ints for the engine-neutral compare. Thresholds
    * chosen so every rule discriminates at sf0.01 (bullet 15% < the ~20%
    * planted rate, dup 10% vs 1 planted dup line per 6th doc, ellipsis 20%
    * vs the ~14% planted rate).
    */
  private def filterGopherQuery(s: SparkSession, dir: String): DataFrame = {
    val out = TextAnalysis.gopherFilter(docsWithGopherLines(s, dir),
      "doc_id", "text",
      minWords = 30, maxWords = 500,
      maxSymbolWordPct = 2, maxEllipsisLinePct = 20,
      maxBulletLinePct = 15, maxDupLinePct = 10)
    val flags = Seq("words_ok", "mean_word_len_ok", "alpha_ok", "symbol_ok",
      "bullet_ok", "ellipsis_ok", "dup_line_ok", "stopword_ok", "keep")
    out.select(col("doc_id") +: out.columns.filter(_.startsWith("n_")).map(col).toSeq ++:
      flags.map(f => col(f).cast("int").as(f)): _*)
  }
  query("filter_gopher", filterGopherQuery, Shuffles(0))(
    // Gopher gate replay: rebuild the planted multi-line corpus from token
    // positions (bullet prefix every (doc_id+pos)%5, ellipsis terminal
    // every %7, first line re-appended every 6th doc), then every counter
    // and every cross-multiplied integer rule verdict end-to-end
    s"""WITH $toksCte,
       |ex AS (SELECT doc_id, unnest(toks) AS tok,
       |  generate_subscripts(toks, 1) AS p FROM t),
       |segs AS (SELECT doc_id, CAST((p - 1) // 12 AS INT) AS pos,
       |  CASE WHEN (doc_id + (p - 1) // 12) % 5 = 0 THEN '- ' ELSE '' END ||
       |    string_agg(tok, ' ' ORDER BY p) ||
       |    CASE WHEN (doc_id + (p - 1) // 12) % 7 = 0 THEN '...' ELSE '.' END AS line
       |  FROM ex GROUP BY doc_id, (p - 1) // 12),
       |mx AS (SELECT doc_id, max(pos) AS mp FROM segs GROUP BY doc_id),
       |al AS (SELECT doc_id, pos, line FROM segs
       |  UNION ALL SELECT s.doc_id, mx.mp + 1, s.line
       |    FROM segs s JOIN mx USING (doc_id)
       |    WHERE s.pos = 0 AND s.doc_id % 6 = 0),
       |doc AS (SELECT t.doc_id, coalesce(d.text, '') AS text FROM t LEFT JOIN
       |  (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
       |   FROM al GROUP BY doc_id) d USING (doc_id)),
       |${gopherChain("doc")}
       |SELECT doc_id,
       |  CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_word_chars AS BIGINT) AS n_word_chars,
       |  CAST(n_alpha_words AS BIGINT) AS n_alpha_words,
       |  CAST(n_stopword_hits AS BIGINT) AS n_stopword_hits,
       |  CAST(n_lines AS BIGINT) AS n_lines,
       |  CAST(n_distinct_lines AS BIGINT) AS n_distinct_lines,
       |  CAST(n_bullet_lines AS BIGINT) AS n_bullet_lines,
       |  CAST(n_ellipsis_lines AS BIGINT) AS n_ellipsis_lines,
       |  CAST(n_symbols AS BIGINT) AS n_symbols,
       |  CAST($gWordsOk AS INT) AS words_ok,
       |  CAST($gMeanOk AS INT) AS mean_word_len_ok,
       |  CAST($gAlphaOk AS INT) AS alpha_ok,
       |  CAST($gSymbolOk AS INT) AS symbol_ok,
       |  CAST($gBulletOk AS INT) AS bullet_ok,
       |  CAST($gEllipsisOk AS INT) AS ellipsis_ok,
       |  CAST($gDupOk AS INT) AS dup_line_ok,
       |  CAST($gStopOk AS INT) AS stopword_ok,
       |  CAST($gKeepCond AS INT) AS keep
       |FROM gc""".stripMargin)

  /** Deterministic synthetic HTML wrapper around every doc: script/style/
    * comment blocks whose CONTENTS must vanish, attributes, a self-closing
    * tag, every decoded entity, and the double-decode trap (`&amp;lt;` must
    * extract as the literal `&lt;`). The DuckDB twin replays the same
    * concatenation.
    */
  private[graft] val htmlPrefix =
    "<html><head><title>t</title><style>body { color: red; }</style>" +
      "<script>var x = 1 && 2;</script><!-- hidden --></head>" +
      "<body><p id=\"a\">"
  private[graft] val htmlSuffix =
    "</p><br/><div class=\"f\">Tom &amp; Jerry &lt;3 &quot;q&quot; " +
      "&#39;s&#39; &amp;lt; x&nbsp;y</div></body></html>"

  /** The synthetic HTML wrapper over ANY (doc_id, text) frame — shared by
    * the extract_html query and the crawl-full capstone. */
  private[graft] def withSyntheticHtml(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      concat(lit(htmlPrefix), col("text"), lit(htmlSuffix)).as("text"))

  private def docsWithHtml(s: SparkSession, dir: String): DataFrame =
    withSyntheticHtml(docs(s, dir).select(col("doc_id"), col("text")))

  // the synthetic HTML wrapper + extraction chain over ANY (doc_id, text)
  // source — ends in CTE `f` (doc_id, text_extracted); shared by
  // extract_html and the crawl-full capstone
  private[queries] def htmlExtractCtes(src: String): String =
    s"""h AS (SELECT doc_id,
       |  '<html><head><title>t</title><style>body { color: red; }</style>' ||
       |  '<script>var x = 1 && 2;</script><!-- hidden --></head>' ||
       |  '<body><p id="a">' || text ||
       |  '</p><br/><div class="f">Tom &amp; Jerry &lt;3 &quot;q&quot; ' ||
       |  '&#39;s&#39; &amp;lt; x&nbsp;y</div></body></html>' AS html
       |  FROM $src),
       |a1 AS (SELECT doc_id,
       |  regexp_replace(html, '(?is)<script.*?</script>', ' ', 'g') AS t FROM h),
       |a2 AS (SELECT doc_id,
       |  regexp_replace(t, '(?is)<style.*?</style>', ' ', 'g') AS t FROM a1),
       |a3 AS (SELECT doc_id,
       |  regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM a2),
       |a4 AS (SELECT doc_id,
       |  regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM a3),
       |a5 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t,
       |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
       |  '&nbsp;', ' '), '&amp;', '&') AS t FROM a4),
       |f AS (SELECT doc_id,
       |  coalesce(trim(regexp_replace(t, '\\s+', ' ', 'g')), '') AS text_extracted
       |  FROM a5)""".stripMargin

  private def extractHtmlQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.extractHtmlText(docsWithHtml(s, dir), "doc_id", "text")
  query("extract_html", extractHtmlQuery, Shuffles(0))(
    // HTML extraction: identical regex chain (RE2-compatible patterns),
    // entity decode by literal replace in the same order — &amp; LAST, so
    // the planted &amp;lt; renders the literal &lt;, never double-decodes
    s"""WITH ${htmlExtractCtes("documents")}
       |SELECT doc_id, text_extracted,
       |  length(text_extracted) AS n_chars_extracted FROM f""".stripMargin)

  /** Messy deterministic URLs cycling three templates: mixed-case scheme/
    * host with a default port + utm pair + fragment; :80 http with gclid;
    * clean https with an fbclid between real params. The DuckDB twin
    * replays the same concatenation and the same canonicalization chain.
    */
  private def urlCanonicalizeQuery(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val url = when(id % 3 === 0,
        concat(lit("HTTPS://NEWS.Example.CO.UK:443/Path/"), id,
          lit("?utm_source=feed&id="), id, lit("&utm_campaign=x#frag")))
      .when(id % 3 === 1,
        concat(lit("http://blog.example.co.uk:80/p?id="), id, lit("&gclid=abc123")))
      .otherwise(
        concat(lit("https://docs.sample.net/Q/"), id, lit("?a=1&fbclid=zz&b=2")))
    docs(s, dir).select(id,
      ops.Url.canonicalizeUrl(url).as("canonical_url"))
  }
  query("url_canonicalize", urlCanonicalizeQuery, Shuffles(0))(
    // canonicalization replay: same messy-url synthesis, same regex
    // chain (DuckDB backrefs are \1 and need the 'g' flag; semantics
    // identical to Spark's $1 global replace)
    """WITH u AS (SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN
      |    'HTTPS://NEWS.Example.CO.UK:443/Path/' || doc_id ||
      |    '?utm_source=feed&id=' || doc_id || '&utm_campaign=x#frag'
      |  WHEN doc_id % 3 = 1 THEN
      |    'http://blog.example.co.uk:80/p?id=' || doc_id || '&gclid=abc123'
      |  ELSE 'https://docs.sample.net/Q/' || doc_id || '?a=1&fbclid=zz&b=2'
      |  END AS url FROM documents),
      |p AS (SELECT doc_id,
      |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://.*$', 1)) AS sch,
      |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*$', 1)) AS auth,
      |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS rest
      |  FROM u),
      |n AS (SELECT doc_id, sch,
      |  CASE WHEN sch = 'http' THEN regexp_replace(auth, ':80$', '')
      |       WHEN sch = 'https' THEN regexp_replace(auth, ':443$', '')
      |       ELSE auth END AS auth,
      |  regexp_replace(rest, '#.*$', '', 'g') AS nofrag
      |  FROM p),
      |s AS (SELECT doc_id, sch, auth,
      |  regexp_replace(nofrag, '\?.*$', '', 'g') AS path,
      |  regexp_extract(nofrag, '(\?.*)$', 1) AS query FROM n),
      |q AS (SELECT doc_id, sch, auth, path,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(query,
      |            '([?&])(utm_[^&#=]*|gclid|fbclid)(=[^&#]*)?(&|$)', '\1\4', 'g'),
      |          '([?&])(utm_[^&#=]*|gclid|fbclid)(=[^&#]*)?(&|$)', '\1\4', 'g'),
      |        '&{2,}', '&', 'g'),
      |      '\?&', '?', 'g'),
      |    '[?&]$', '', 'g') AS cq
      |  FROM s)
      |SELECT doc_id, sch || '://' || auth || path || cq AS canonical_url FROM q""".stripMargin)

  /** documents with deterministic planted PII on every 5th doc. */
  private def docsWithPii(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("text",
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."), (col("doc_id") % 200).cast("string"),
          lit(".7")))
        .otherwise(col("text")))

  private def textPiiRedact(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.redactPii(docsWithPii(s, dir), "doc_id", "text")
  query("text_pii_redact", textPiiRedact, Shuffles(0))(
    s"""WITH d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
       |    THEN text || ' contact u' || CAST(doc_id AS VARCHAR) ||
       |         '@example.com from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7'
       |    ELSE text END AS text FROM documents),
       |e AS (SELECT doc_id, text,
       |  regexp_replace(text, '${TextAnalysis.emailRe}', '<EMAIL>', 'g') AS t_email
       |  FROM d)
       |SELECT doc_id,
       |  len(regexp_extract_all(text, '${TextAnalysis.emailRe}')) AS n_emails,
       |  len(regexp_extract_all(t_email, '${TextAnalysis.ipv4Re}')) AS n_ips,
       |  md5(regexp_replace(t_email, '${TextAnalysis.ipv4Re}', '<IP>', 'g')) AS redacted_fp
       |FROM e""".stripMargin)

  /** documents with deterministic planted v2 identifiers: every category,
    * including a Luhn-VALID card in each written form (spaced, dashed,
    * contiguous 15-digit Amex) and two Luhn-REJECT cards — the checksum
    * reject is part of the oracle, not just the spec. */
  private def docsWithPiiV2(s: SparkSession, dir: String): DataFrame = {
    val plant = Map(
      0L -> " card 4111 1111 1111 1111 ok",
      1L -> " card 4111 1111 1111 1112 bad",
      2L -> " pay 5555-5555-5555-4444 now",
      3L -> " amex 378282246310005 billed",
      4L -> " iban DE89370400440532013000 wired",
      10L -> " code DE89370400440532013001 rejected",
      5L -> " call +44 20 7946 0958 today",
      6L -> " call (415) 555-2671 today",
      7L -> " fax 555-123-4567 attn",
      9L -> " order 1234567890123456 shipped")
    val planted = plant.foldLeft(
      when(col("doc_id") % 11 === 8,
        concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."), (col("doc_id") % 200).cast("string"),
          lit(".7")))) { case (acc, (k, suffix)) =>
      acc.when(col("doc_id") % 11 === k, concat(col("text"), lit(suffix)))
    }
    docs(s, dir).withColumn("text", planted.otherwise(col("text")))
  }

  private def textPiiRedactV2(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.redactPiiV2(docsWithPiiV2(s, dir), "doc_id", "text")
  query("text_pii_redact_v2", textPiiRedactV2, Shuffles(0))(
    // v2: the staged pass chain replayed with DuckDB list functions; the
    // Luhn sum is the same right-anchored integer recurrence Spark runs
    s"""WITH d AS (SELECT doc_id, CASE
       |    WHEN doc_id % 11 = 0 THEN text || ' card 4111 1111 1111 1111 ok'
       |    WHEN doc_id % 11 = 1 THEN text || ' card 4111 1111 1111 1112 bad'
       |    WHEN doc_id % 11 = 2 THEN text || ' pay 5555-5555-5555-4444 now'
       |    WHEN doc_id % 11 = 3 THEN text || ' amex 378282246310005 billed'
       |    WHEN doc_id % 11 = 4 THEN text || ' iban DE89370400440532013000 wired'
       |    WHEN doc_id % 11 = 5 THEN text || ' call +44 20 7946 0958 today'
       |    WHEN doc_id % 11 = 6 THEN text || ' call (415) 555-2671 today'
       |    WHEN doc_id % 11 = 7 THEN text || ' fax 555-123-4567 attn'
       |    WHEN doc_id % 11 = 8 THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
       |      || '@example.com from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7'
       |    WHEN doc_id % 11 = 9 THEN text || ' order 1234567890123456 shipped'
       |    WHEN doc_id % 11 = 10 THEN text || ' code DE89370400440532013001 rejected'
       |    ELSE text END AS t0 FROM documents),
       |s1 AS (SELECT doc_id, t0,
       |    regexp_replace(t0, '${TextAnalysis.emailRe}', '<EMAIL>', 'g') AS t1 FROM d),
       |i1 AS (SELECT *, regexp_split_to_array(t1, '${TextAnalysis.ibanRe}') AS ib_parts,
       |    regexp_extract_all(t1, '${TextAnalysis.ibanRe}') AS ib_raw FROM s1),
       |i2 AS (SELECT *,
       |    list_transform(list_transform(ib_raw, m -> substr(m, 5) || substr(m, 1, 4)),
       |      s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, length(s) + 1),
       |          i -> CAST(CASE WHEN s[i] BETWEEN '0' AND '9'
       |               THEN 10 * 1024 + ascii(s[i]) - 48
       |               ELSE 100 * 1024 + ascii(s[i]) - 55 END AS BIGINT))),
       |        (acc, e) -> (acc * (e // 1024) + e % 1024) % 97) = 1) AS ib_ok FROM i1),
       |s2 AS (SELECT *, array_to_string(list_transform(range(1, len(ib_parts) + 1),
       |    i -> ib_parts[i] ||
       |      coalesce(CASE WHEN ib_ok[i] THEN '<IBAN>' ELSE ib_raw[i] END, '')),
       |    '') AS t2 FROM i2),
       |s3 AS (SELECT *, regexp_replace(t2, '${TextAnalysis.phoneRe}', '<PHONE>', 'g') AS t3 FROM s2),
       |s4 AS (SELECT *,
       |    regexp_split_to_array(t3, '${TextAnalysis.cardRe}') AS parts,
       |    regexp_extract_all(t3, '${TextAnalysis.cardRe}') AS raw FROM s3),
       |s5 AS (SELECT *,
       |    list_transform(list_transform(raw, m -> regexp_replace(m, '[ -]', '', 'g')),
       |      s -> (list_sum(list_transform(range(1, length(s) + 1),
       |        i -> CASE WHEN (length(s) - i) % 2 = 1
       |             THEN CASE WHEN (ascii(s[i]) - 48) * 2 > 9
       |                  THEN (ascii(s[i]) - 48) * 2 - 9
       |                  ELSE (ascii(s[i]) - 48) * 2 END
       |             ELSE ascii(s[i]) - 48 END)) % 10 = 0)) AS ok FROM s4),
       |s6 AS (SELECT *,
       |    array_to_string(list_transform(range(1, len(parts) + 1),
       |      i -> parts[i] || coalesce(CASE WHEN ok[i] THEN '<CARD>' ELSE raw[i] END, '')),
       |      '') AS t4 FROM s5),
       |s7 AS (SELECT *, regexp_replace(t4, '${TextAnalysis.ipv4Re}', '<IP>', 'g') AS t5 FROM s6)
       |SELECT doc_id,
       |  len(regexp_extract_all(t0, '${TextAnalysis.emailRe}')) AS n_emails,
       |  len(list_filter(ib_ok, x -> x)) AS n_ibans,
       |  len(ib_ok) - len(list_filter(ib_ok, x -> x)) AS n_ibans_rejected,
       |  len(regexp_extract_all(t2, '${TextAnalysis.phoneRe}')) AS n_phones,
       |  len(list_filter(ok, x -> x)) AS n_cards,
       |  len(ok) - len(list_filter(ok, x -> x)) AS n_cards_rejected,
       |  len(regexp_extract_all(t4, '${TextAnalysis.ipv4Re}')) AS n_ips,
       |  md5(t5) AS redacted_fp
       |FROM s7""".stripMargin)

  /** 32-token chunks with stride 24 (overlapping pretraining windows). */
  private def chunkDocs(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkDocuments(docs(s, dir), "doc_id", "text",
      chunkTokens = 32, stride = 24)
  query("chunk_documents", chunkDocs, Shuffles(0))(
    """WITH t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |nz AS (SELECT * FROM t WHERE len(toks) > 0),
      |st AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks), 24)) AS s FROM nz)
      |SELECT doc_id AS id,
      |  CAST((s - 1) / 24 AS INT) AS chunk_id,
      |  array_to_string(toks[s:s+31], ' ') AS chunk_text,
      |  CAST(least(32, len(toks) - s + 1) AS INT) AS n_chunk_tokens
      |FROM st""".stripMargin)

  private def topNgram(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topNgramStats(docs(s, dir), "doc_id", "text", n = 2)
  query("top_ngram_stats", topNgram, Shuffles(2))(
    """WITH t AS (SELECT doc_id, length(text) AS n_chars,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, n_chars, unnest(CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
      |    WHEN len(toks) >= 2
      |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |    ELSE [array_to_string(toks, ' ')] END) AS gram FROM t),
      |c AS (SELECT doc_id, n_chars, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
      |r AS (SELECT *,
      |  row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn,
      |  sum(cnt) OVER (PARTITION BY doc_id) AS n_grams FROM c)
      |SELECT doc_id AS id, gram AS top_ngram, CAST(cnt AS BIGINT) AS top_count,
      |  CAST(n_grams AS BIGINT) AS n_grams,
      |  round(cnt * length(gram) / greatest(CAST(n_chars AS DOUBLE), 1.0), 6)
      |    AS top_char_fraction
      |FROM r WHERE rn = 1""".stripMargin)

  /** Rare = corpus occurrence count <= 2. */
  private def rareTokens(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.rareTokenStats(docs(s, dir), "doc_id", "text", maxCount = 2L)
  query("rare_token_stats", rareTokens, Shuffles(2))(
    """WITH t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |ex AS (SELECT doc_id, unnest(CASE WHEN len(toks) = 0
      |  THEN [CAST(NULL AS VARCHAR)] ELSE toks END) AS tok FROM t),
      |rare AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM ex
      |  WHERE tok IS NOT NULL GROUP BY tok) WHERE c <= 2)
      |SELECT e.doc_id AS id,
      |  count(e.tok) AS n_tokens,
      |  CAST(sum(CASE WHEN r.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_rare_tokens,
      |  round(CAST(sum(CASE WHEN r.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) /
      |    greatest(CAST(count(e.tok) AS DOUBLE), 1.0), 6) AS rare_fraction
      |FROM ex e LEFT JOIN rare r ON e.tok = r.tok
      |GROUP BY e.doc_id""".stripMargin)

  /** documents with deterministic mess planted on every 4th doc (uppercase,
    * runs of spaces, tabs, a C0 control char) so normalization has real work.
    */
  private def docsWithMess(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("text",
      when(col("doc_id") % 4 === 0,
        concat(lit("The  QUICK\tStart "), col("text"), lit("  End\u0001Line ")))
        .otherwise(col("text")))

  private def textNormalize(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.normalizeText(docsWithMess(s, dir), "doc_id", "text")
  query("text_normalize", textNormalize, Shuffles(0))(
    """WITH m AS (SELECT doc_id,
      |  CASE WHEN doc_id % 4 = 0
      |    THEN 'The  QUICK' || chr(9) || 'Start ' || text || '  End' || chr(1) || 'Line '
      |    ELSE text END AS text
      |  FROM documents),
      |n AS (SELECT doc_id,
      |  trim(regexp_replace(
      |    translate(regexp_replace(text, '[\x00-\x1F\x7F]', ' ', 'g'),
      |      'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
      |    ' +', ' ', 'g')) AS text_norm
      |  FROM m)
      |SELECT doc_id, text_norm, length(text_norm) AS n_chars_norm FROM n""".stripMargin)

  private def invertedIndexQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.invertedIndex(docs(s, dir), "doc_id", "text", maxPostings = 8)
      .select("term", "n_occurrences", "n_docs", "postings_str")
  query("inverted_index", invertedIndexQuery, Shuffles(4))(
    """WITH t AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |pairs AS (SELECT doc_id, unnest(toks) AS term FROM t)
      |SELECT term, count(*) AS n_occurrences,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  array_to_string(list_sort(list(DISTINCT doc_id))[1:8], ',') AS postings_str
      |FROM pairs GROUP BY term""".stripMargin)

  private def cooccurrenceQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.cooccurrence(docs(s, dir), "doc_id", "text", window = 2, topK = 50)
  query("cooccurrence", cooccurrenceQuery, Shuffles(2))(
    // Parallel unnests zip in DuckDB, giving (token, position); the pair
    // generation is then an explicit positional self-join — the oracle can
    // afford the join the operator avoids.
    s"""WITH $toksCte,
       |pos AS (SELECT doc_id, unnest(toks) AS tok,
       |  unnest(range(1, len(toks) + 1)) AS pos FROM t),
       |pr AS (SELECT p1.doc_id, p1.tok AS a, p2.tok AS b
       |  FROM pos p1 JOIN pos p2 ON p1.doc_id = p2.doc_id
       |    AND p2.pos > p1.pos AND p2.pos <= p1.pos + 2)
       |SELECT a, b, count(*) AS n_pairs,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
       |FROM pr GROUP BY a, b
       |ORDER BY n_pairs DESC, a, b LIMIT 50""".stripMargin)

  private def topTermsQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTermsPerDoc(docs(s, dir), "doc_id", "text", k = 3)
  query("top_terms", topTermsQuery, Shuffles(3))(
    // tf/df division: one exactly-rounded IEEE op on two exact integers, so
    // score and ranking are engine-identical (a log-idf would drift).
    s"""WITH $toksCte,
       |pairs AS (SELECT doc_id, unnest(toks) AS term FROM t),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM pairs GROUP BY 1, 2),
       |d AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
       |SELECT doc_id, term, tf, df, score, rank FROM (
       |  SELECT tf.doc_id, tf.term, tf.tf, d.df,
       |    CAST(tf.tf AS DOUBLE) / d.df AS score,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY CAST(tf.tf AS DOUBLE) / d.df DESC, tf.term) AS rank
       |  FROM tf JOIN d USING (term)) WHERE rank <= 3""".stripMargin)

  /** Exact pairwise source-vocabulary overlap matrix over documents —
    * the brute-force ground truth next to the KMV sketch path.
    */
  private def vocabOverlapQ(s: SparkSession, dir: String): DataFrame =
    ops.TextAnalysis.vocabOverlap(
      s.read.parquet(s"$dir/documents.parquet").select("source", "text"),
      "source", "text")
  // the G-row sizes agg + the token-keyed intersection join (2 re-keys
  // off the membership checkpoint) + the pair agg; the dense grid is
  // the whitelisted dimension cross
  // +1 since r17: the dense grid's group dimension comes from a
  // PRE-tokenize distinct (so empty-vocabulary groups read 0 instead of
  // vanishing) — a G-sized aggregation on its own pruned single-column
  // scan
  // the G-row dense source-pair grid cross (G = sources, a dimension):
  // the kmv_jaccard pair-cross idiom
  query("vocab_overlap", vocabOverlapQ, ShufflesWithBnlj(6))(
    // overlap replay: distinct (source, token) membership, token-keyed
    // pair intersections, dense a<b grid with zero-fill, integral
    // jaccard + both containments
    """WITH vt AS (SELECT DISTINCT source AS g, t FROM (
      |  SELECT source, unnest(list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0)) AS t
      |  FROM documents
      |  WHERE source IS NOT NULL AND text IS NOT NULL)),
      |gs AS (SELECT DISTINCT source AS g FROM documents
      |  WHERE source IS NOT NULL AND text IS NOT NULL),
      |sz AS (SELECT gs.g,
      |    CAST(coalesce(c.n, 0) AS BIGINT) AS n
      |  FROM gs LEFT JOIN (SELECT g, count(*) AS n FROM vt GROUP BY 1) c
      |    USING (g)),
      |cm AS (SELECT a.g AS ga, b.g AS gb, CAST(count(*) AS BIGINT) AS c
      |  FROM vt a JOIN vt b ON a.t = b.t AND a.g < b.g GROUP BY 1, 2),
      |grid AS (SELECT a.g AS ga, b.g AS gb, a.n AS n_a, b.n AS n_b
      |  FROM sz a JOIN sz b ON a.g < b.g)
      |SELECT grid.ga AS group_a, grid.gb AS group_b,
      |  grid.n_a, grid.n_b,
      |  coalesce(cm.c, 0) AS n_common,
      |  grid.n_a + grid.n_b - coalesce(cm.c, 0) AS n_union,
      |  CASE WHEN grid.n_a + grid.n_b - coalesce(cm.c, 0) = 0 THEN 0
      |    ELSE CAST(CAST(coalesce(cm.c, 0) AS HUGEINT) * 1000000
      |    // (grid.n_a + grid.n_b - coalesce(cm.c, 0)) AS BIGINT) END
      |    AS jaccard_ppm,
      |  CASE WHEN grid.n_a = 0 THEN 0
      |    ELSE CAST(CAST(coalesce(cm.c, 0) AS HUGEINT) * 1000000
      |    // grid.n_a AS BIGINT) END AS containment_a_ppm,
      |  CASE WHEN grid.n_b = 0 THEN 0
      |    ELSE CAST(CAST(coalesce(cm.c, 0) AS HUGEINT) * 1000000
      |    // grid.n_b AS BIGINT) END AS containment_b_ppm
      |FROM grid LEFT JOIN cm ON cm.ga = grid.ga AND cm.gb = grid.gb""".stripMargin)

  /** Vocabulary-novelty curve over ingest order (doc_id buckets of 500) —
    * the Heaps'-law freshness monitor: is new data still new language?
    */
  private def vocabNoveltyQ(s: SparkSession, dir: String): DataFrame =
    ops.TextAnalysis.vocabNovelty(
      s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
      "doc_id", "text", bucketSize = 500L)
  // occurrence agg + distinct (bucket, type) membership + the V-keyed
  // first-bucket arg-min's two stages + the single-partition cumulative
  // window over B result rows (the vocabCoverage bounded-result
  // convention)
  query("vocab_novelty", vocabNoveltyQ, Shuffles(5))(
    // novelty replay: bucketed token stream, occurrence + distinct-type
    // counts per bucket, first-bucket arg-min for the Heaps increment,
    // running cumulative vocabulary, integral ppm divisions
    """WITH tok AS (SELECT doc_id // 500 AS b, unnest(list_filter(
      |    string_split_regex(lower(trim(text)), '\s+'),
      |    x -> len(x) > 0)) AS t
      |  FROM documents
      |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
      |occ AS (SELECT b, CAST(count(*) AS BIGINT) AS n_tokens
      |  FROM tok GROUP BY 1),
      |pairs AS (SELECT DISTINCT b, t FROM tok),
      |types AS (SELECT b, CAST(count(*) AS BIGINT) AS n_types
      |  FROM pairs GROUP BY 1),
      |firstb AS (SELECT t, min(b) AS b FROM pairs GROUP BY 1),
      |news AS (SELECT b, CAST(count(*) AS BIGINT) AS n_new_types
      |  FROM firstb GROUP BY 1),
      |j AS (SELECT occ.b, occ.n_tokens, types.n_types,
      |    coalesce(news.n_new_types, 0) AS n_new_types
      |  FROM occ JOIN types USING (b) LEFT JOIN news USING (b))
      |SELECT b AS bucket, n_tokens, n_types, n_new_types,
      |  CAST(sum(n_new_types) OVER (ORDER BY b
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS vocab_cum,
      |  CAST(CAST(n_new_types AS HUGEINT) * 1000000 // n_types
      |    AS BIGINT) AS novelty_ppm,
      |  CAST(CAST(n_types AS HUGEINT) * 1000000 // n_tokens
      |    AS BIGINT) AS ttr_ppm
      |FROM j""".stripMargin)

  /** Tokenize docs against the corpus's own top-30 vocabulary (ids = rank
    * order — deterministic: count desc, token asc).
    */
  /** Top-30-by-frequency vocabulary (count desc, token asc — deterministic
    * cut), shared by `tokenize_ids` and `decode_ids`.
    */
  private def top30Vocab(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    docs(s, dir)
      .select(explode(graft.functions.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(30)
      .withColumn("token_id", (row_number().over(w) - 1).cast("int"))
      .select("token", "token_id")
  }

  // positional token stream + top-30 vocab (count desc, token asc) —
  // shared by tokenize_ids and decode_ids, one definition so the two
  // oracles cannot drift (the Spark side shares top30Vocab the same way)
  private lazy val vocabCtes =
    """pos AS (SELECT doc_id, unnest(toks) AS token,
      |  unnest(range(1, len(toks) + 1)) AS pos FROM t),
      |kc AS (SELECT token, count(*) AS cnt FROM pos GROUP BY token),
      |vocab AS (SELECT token,
      |  CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS INTEGER) AS token_id
      |  FROM kc ORDER BY cnt DESC, token LIMIT 30)""".stripMargin

  private def tokenizeIds(s: SparkSession, dir: String): DataFrame = {
    // the operator returns typed array<int> ids; the oracle needs a hashable
    // scalar, so the comma-join rendering lives HERE, not in the operator
    TextAnalysis.tokenizeToIds(docs(s, dir), "doc_id", "text", top30Vocab(s, dir))
      .select(col("id").as("doc_id"),
        array_join(transform(col("ids"), _.cast("string")), ",").as("ids_str"),
        col("n_tokens"), col("n_oov"))
  }
  query("tokenize_ids", tokenizeIds, Shuffles(2))(
    s"""WITH $toksCte,
       |$vocabCtes,
       |m AS (SELECT p.doc_id, p.pos, coalesce(v.token_id, -1) AS tid,
       |  CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM pos p LEFT JOIN vocab v USING (token)),
       |agg AS (SELECT doc_id,
       |  string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids_str,
       |  count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov
       |  FROM m GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(agg.ids_str, '') AS ids_str,
       |  coalesce(agg.n_tokens, 0) AS n_tokens, coalesce(agg.n_oov, 0) AS n_oov
       |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin)

  /** Full vocabulary round trip: encode to ids under the top-30 vocab, then
    * decode back — OOV positions render as `<unk>` and are counted, never
    * dropped (sequence lengths must survive the round trip).
    */
  private def decodeIdsQ(s: SparkSession, dir: String): DataFrame = {
    val vocab = top30Vocab(s, dir).localCheckpoint(false)
    val encoded = TextAnalysis.tokenizeToIds(docs(s, dir), "doc_id", "text", vocab)
    TextAnalysis.decodeIds(encoded, "id", "ids", vocab)
      .select(col("id").as("doc_id"), col("decoded"), col("n_ids"), col("n_unknown"))
  }
  // ONE exchange measured: encode's groupBy(id); the decode re-agg reuses
  // that partitioning, and the checkpointed vocab's agg/window exchanges
  // sit behind a Scan ExistingRDD (never counted — the lm_score convention)
  query("decode_ids", decodeIdsQ, Shuffles(1))(
    // encode∘decode collapses to per-token vocab substitution: in-vocab
    // tokens survive, OOV positions render '<unk>' — same vocab CTEs as
    // tokenize_ids, so the two oracles can't drift
    s"""WITH $toksCte,
       |$vocabCtes,
       |m AS (SELECT p.doc_id, p.pos,
       |  CASE WHEN v.token_id IS NULL THEN '<unk>' ELSE p.token END AS tok,
       |  CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM pos p LEFT JOIN vocab v USING (token)),
       |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS decoded,
       |  count(*) AS n_ids, CAST(sum(oov) AS BIGINT) AS n_unknown
       |  FROM m GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(agg.decoded, '') AS decoded,
       |  coalesce(agg.n_ids, 0) AS n_ids, coalesce(agg.n_unknown, 0) AS n_unknown
       |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin)

  /** Per-source corpus report card (the dataset datasheet). */
  private def corpusReportQ(s: SparkSession, dir: String): DataFrame =
    ops.Stats.corpusReport(docs(s, dir), "text", "source")
  // doc-digest distinct (2: partial on (group, digest) + final) and the
  // group-vocabulary distinct (2: (group, token) + re-agg); the two
  // group-level tables broadcast-join
  query("corpus_report", corpusReportQ, Shuffles(4))(
    // per-source datasheet: pure integer counts + ONE division at the end;
    // digests aren't emitted, only distinct-counted, so the hex-casing of
    // sha256 never matters cross-engine
    s"""WITH $toksCte,
       |dl AS (SELECT d.source,
       |  sha256(coalesce(lower(trim(d.text)), '')) AS dg,
       |  coalesce(len(t.toks), 0) AS nt, coalesce(length(d.text), 0) AS nc
       |  FROM documents d JOIN t USING (doc_id)),
       |base AS (SELECT source, count(*) AS n_docs,
       |  sum(CASE WHEN nt = 0 THEN 1 ELSE 0 END) AS n_empty_docs,
       |  count(DISTINCT dg) AS n_unique_docs,
       |  sum(nt) AS n_tokens, sum(nc) AS total_chars
       |  FROM dl GROUP BY source),
       |v AS (SELECT source, count(DISTINCT tok) AS n_distinct_tokens
       |  FROM (SELECT d.source, unnest(t.toks) AS tok
       |        FROM documents d JOIN t USING (doc_id)) GROUP BY source)
       |SELECT b.source, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_empty_docs AS BIGINT) AS n_empty_docs,
       |  CAST(n_unique_docs AS BIGINT) AS n_unique_docs,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(coalesce(n_distinct_tokens, 0) AS BIGINT) AS n_distinct_tokens,
       |  CAST(total_chars AS BIGINT) AS total_chars,
       |  CAST(n_tokens AS DOUBLE) / n_docs AS avg_doc_tokens
       |FROM base b LEFT JOIN v ON b.source IS NOT DISTINCT FROM v.source""".stripMargin)

  private def vocabCoverageQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabCoverage(docs(s, dir), "doc_id", "text", vocabSize = 30)
  query("vocab_coverage", vocabCoverageQuery, ShufflesWithBnlj(1))(
    s"""WITH $toksCte,
       |tok AS (SELECT unnest(toks) AS token FROM t),
       |kc AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM kc),
       |top AS (SELECT token, cnt,
       |  row_number() OVER (ORDER BY cnt DESC, token) AS rank,
       |  CAST(sum(cnt) OVER (ORDER BY cnt DESC, token ROWS UNBOUNDED PRECEDING)
       |    AS BIGINT) AS cum
       |  FROM kc ORDER BY cnt DESC, token LIMIT 30)
       |SELECT rank, token, cnt, cum * 1000000 // total AS cum_ppm
       |FROM top, tot""".stripMargin)

  private def pmiPairsQuery(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiPairs(docs(s, dir), "doc_id", "text",
      window = 2, topK = 40, minPairs = 5)
  query("pmi_pairs", pmiPairsQuery, Shuffles(3))(
    s"""WITH $toksCte,
       |pos AS (SELECT doc_id, unnest(toks) AS tok,
       |  unnest(range(1, len(toks) + 1)) AS pos FROM t),
       |uni AS (SELECT tok, count(*) AS c FROM pos GROUP BY tok),
       |pr AS (SELECT p1.tok AS a, p2.tok AS b
       |  FROM pos p1 JOIN pos p2 ON p1.doc_id = p2.doc_id
       |    AND p2.pos > p1.pos AND p2.pos <= p1.pos + 2),
       |pc AS (SELECT a, b, count(*) AS n_pairs FROM pr GROUP BY a, b
       |  HAVING count(*) >= 5)
       |SELECT a, b, n_pairs, ua.c AS c_a, ub.c AS c_b,
       |  CAST(n_pairs * 1000000000 // (ua.c * ub.c) AS BIGINT) AS pmi_scaled
       |FROM pc JOIN uni ua ON ua.tok = pc.a JOIN uni ub ON ub.tok = pc.b
       |ORDER BY pmi_scaled DESC, a, b LIMIT 40""".stripMargin)
}
