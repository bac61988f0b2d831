package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.config.GoldenConfig._
import graft.functions.TextHash
import graft.functions.TextHash.{tokens, shingles, fingerprint}

/** Training-data text-analysis operators (language-ID heuristic, quality
  * scoring, token counting, fingerprinting) plus the L-gram exact-substring
  * pass. All integer-output, fully SQL-expressible → every one carries a
  * DuckDB oracle.
  *
  * Reference lineage: token/document frequency analytics mirror
  * R:.../textmining/{TermFrequencyCounter,DocumentFrequencyCounter}.scala
  * (SURVEY §2 A18); tokenization A27.
  */
object TextAnalysis {

  /** Stopword list for quality/lang heuristics — pinned, tiny (kept as the
    * q33 oracle default; real pipelines pass [[StopwordsFull]]). */
  val Stopwords: Seq[String] = Seq("a", "the", "of", "and", "is")

  /** Fuller English stopword set for production-shaped tokenization —
    * still pinned and deterministic (standard high-frequency function
    * words; any corpus-derived list would break oracle reproducibility). */
  val StopwordsFull: Seq[String] = Seq(
    "a", "an", "the", "and", "or", "but", "of", "in", "on", "at", "to",
    "for", "with", "by", "from", "as", "is", "are", "was", "were", "be",
    "been", "being", "it", "its", "this", "that", "these", "those", "he",
    "she", "they", "them", "his", "her", "their", "we", "you", "i", "not",
    "no", "so", "if", "then", "than", "too", "very", "can", "will", "just",
    "do", "does", "did", "has", "have", "had")

  /** Character-bigram evidence per language — a deterministic, pinned
    * n-gram language-ID heuristic (counts of marker bigrams; argmax with
    * fixed priority tiebreak). */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "th", "de" -> "ch", "es" -> "ll", "fr" -> "le", "zh" -> "sh")

  private def countOcc(text: Column, pat: String): Column =
    ((length(text) - length(replace(text, lit(pat), lit("")))) / pat.length).cast("long")

  /** (id, n_tokens, n_distinct, n_chars, stopword_cnt, quality_ok). */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = tokens(lower(col(textCol)))
    df.select(
      col(idCol).as("id"),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_distinct"),
      length(col(textCol)).cast("long").as("n_chars"),
      size(array_intersect(t, array(Stopwords.map(lit): _*))).cast("long")
        .as("distinct_stopwords"),
      size(filter(t, tok => tok.isin(Stopwords: _*))).cast("long").as("stopword_cnt"))
      .withColumn("quality_ok",
        (col("n_tokens") >= 10 && col("n_tokens") <= 1000 &&
          col("n_distinct") * 10 >= col("n_tokens") * 2 &&
          col("stopword_cnt") * 2 <= col("n_tokens")).cast("boolean"))
  }

  /** (id, marker counts..., lang_guess) — argmax marker count, ties by
    * LangMarkers order. */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = df.select(col(idCol).as("id"), lower(col(textCol)).as("t"))
    val withCounts = LangMarkers.foldLeft(base) { case (d, (lang, pat)) =>
      d.withColumn(s"c_$lang", countOcc(col("t"), pat))
    }
    val best = LangMarkers.map { case (lang, _) => col(s"c_$lang") }
      .reduce((a, b) => greatest(a, b))
    // argmax with ties broken by LangMarkers order (first marker wins)
    val ordered = LangMarkers.reverse.foldLeft(lit("und")) { case (other, (lang, _)) =>
      when(col(s"c_$lang") === best && best > 0, lit(lang)).otherwise(other)
    }
    withCounts.select(col("id") +: LangMarkers.map { case (l, _) => col(s"c_$l") } :+
      ordered.as("lang_guess"): _*)
  }

  /** BPE-ish pretokenization pattern (builder-prompt text-analysis row:
    * "token counting (whitespace + a BPE-ish regex)"): lowercase letter
    * runs, digit runs, and single non-space symbols — the GPT-2-style
    * pretoken shape without a merges table, so its count tracks what a
    * subword tokenizer would see far better than whitespace splitting on
    * punctuation-heavy text. Java-vs-RE2 parity VERIFIED beyond ASCII
    * (round 4): Java regex char classes match per code POINT — including
    * supplementary-plane symbols — exactly like RE2, so q44 hash-matches
    * the DuckDB oracle on the emoji/astral docs of tools/edge_fixture.py
    * (measured, not assumed). */
  val BpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Per-doc token accounting: whitespace tokens next to BPE-ish pretokens
    * — (id, n_ws, n_bpeish). Pure column expressions, codegen end to end. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      size(tokens(col(textCol))).cast("long").as("n_ws"),
      size(regexp_extract_all(lower(col(textCol)), lit(BpeishPattern), lit(0)))
        .cast("long").as("n_bpeish"))

  /** Corpus word count (A18): (token, cnt, doc_cnt). Two-level aggregate —
    * per-(token, doc) occurrence counts first, then per-token totals —
    * instead of count + countDistinct in one agg, whose plan EXPANDs every
    * exploded token row twofold before the first shuffle. Same integers
    * (Σ per-doc occurrences = total count; rows per token = distinct
    * docs); both levels combine map-side. */
  def wordCount(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy("token", "id").agg(count(lit(1)).as("_c"))
      .groupBy("token")
      .agg(sum(col("_c")).as("cnt"), count(lit(1)).as("doc_cnt"))

  // ---- tokenizer variants (A27: the reference's tokenizer family beyond
  // lowercase-whitespace — stopword removal and a suffix stemmer) ----------

  /** Stopword- and empty-token-filtered tokens. The default stopword set
    * stays the pinned 5-word list (the q33 oracle); pass
    * [[StopwordsFull]] for production-shaped cleaning (q38). */
  def cleanTokens(text: Column, stopwords: Seq[String] = Stopwords): Column =
    filter(tokens(text), t => !t.isin(stopwords: _*) && t =!= "")

  /** Pinned deterministic suffix stemmer (CASE chain, not regex — regex
    * alternation order is engine-specific; a when-ladder is oracle-exact):
    * ing/ed/ly/es/s stripped with minimum stem lengths. */
  def stemToken(t: Column): Column =
    when(t.endsWith("ing") && length(t) > 5, t.substr(lit(1), length(t) - 3))
      .when(t.endsWith("ed") && length(t) > 4, t.substr(lit(1), length(t) - 2))
      .when(t.endsWith("ly") && length(t) > 4, t.substr(lit(1), length(t) - 2))
      .when(t.endsWith("es") && length(t) > 4, t.substr(lit(1), length(t) - 2))
      .when(t.endsWith("s") && length(t) > 3 && !t.endsWith("ss"),
        t.substr(lit(1), length(t) - 1))
      .otherwise(t)

  /** Fuller deterministic suffix stemmer — a Porter-style longest-suffix
    * when-ladder (derivational endings before inflections; min stem-length
    * guards), still a pure CASE chain so the DuckDB oracle reproduces it
    * token-for-token. Same interface as [[stemToken]]. */
  def stemTokenFull(t: Column): Column = {
    def repl(suf: String, by: String): Column =
      concat(t.substr(lit(1), length(t) - suf.length), lit(by))
    when(t.endsWith("ization") && length(t) > 8, repl("ization", "ize"))
      .when(t.endsWith("ational") && length(t) > 8, repl("ational", "ate"))
      .when(t.endsWith("fulness") && length(t) > 8, repl("fulness", "ful"))
      .when(t.endsWith("ousness") && length(t) > 8, repl("ousness", "ous"))
      .when(t.endsWith("iveness") && length(t) > 8, repl("iveness", "ive"))
      .when(t.endsWith("tional") && length(t) > 7, repl("tional", "tion"))
      .when(t.endsWith("ments") && length(t) > 7, t.substr(lit(1), length(t) - 5))
      .when(t.endsWith("ment") && length(t) > 6, t.substr(lit(1), length(t) - 4))
      .when(t.endsWith("ness") && length(t) > 5, t.substr(lit(1), length(t) - 4))
      .when(t.endsWith("ing") && length(t) > 5, t.substr(lit(1), length(t) - 3))
      .when(t.endsWith("ies") && length(t) > 4, repl("ies", "y"))
      .when(t.endsWith("ed") && length(t) > 4, t.substr(lit(1), length(t) - 2))
      .when(t.endsWith("ly") && length(t) > 4, t.substr(lit(1), length(t) - 2))
      .when(t.endsWith("es") && length(t) > 4, t.substr(lit(1), length(t) - 2))
      .when(t.endsWith("s") && length(t) > 3 && !t.endsWith("ss"),
        t.substr(lit(1), length(t) - 1))
      .otherwise(t)
  }

  /** Corpus word count over cleaned + stemmed tokens: (token, cnt, doc_cnt).
    * Defaults pinned for the q33 oracle; pass `stopwords`/`stem` for the
    * production tokenizer (q38 uses StopwordsFull + stemTokenFull). */
  def wordCountStemmed(df: DataFrame, idCol: String, textCol: String,
                       stopwords: Seq[String] = Stopwords,
                       stem: Column => Column = stemToken): DataFrame =
    df.select(col(idCol).as("id"),
        explode(cleanTokens(col(textCol), stopwords)).as("tok"))
      .select(col("id"), stem(col("tok")).as("token"))
      .groupBy("token", "id").agg(count(lit(1)).as("_c"))
      .groupBy("token") // two-level agg, no Expand — see wordCount
      .agg(sum(col("_c")).as("cnt"), count(lit(1)).as("doc_cnt"))

  // ---- tf-idf (A38: the reference's CosineContextComparator weighs token
  // contexts by tf-idf before cosine) --------------------------------------

  /** Integer tf-idf vectors: (id, token, tf, df, tfidf_milli) with
    * idf_milli = (1000·(N+1)) div (df+1) — a deterministic integer idf
    * (smoothed reciprocal document frequency; monotone in the real idf), so
    * the DuckDB oracle matches bit-for-bit where a float log() would not. */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n"))
    tf.join(dfreq, "token").crossJoin(broadcast(n))
      .select(col("id"), col("token"), col("tf"), col("df"),
        expr("tf * ((1000 * (n + 1)) div (df + 1))").as("tfidf_milli"))
  }

  /** Exact integer cosine components between tf-idf vectors of id pairs:
    * (a, b, dot, na2, nb2) — cos = dot/√(na2·nb2) is computable downstream;
    * keeping the integers exact makes the result oracle-checkable. Pairs
    * sharing no token are omitted (dot = 0 carries no ranking signal). */
  def tfidfCosine(vectors: DataFrame): DataFrame = {
    val v = vectors.select(col("id"), col("token"), col("tfidf_milli").as("w"))
    val norms = v.groupBy("id").agg(sum(col("w") * col("w")).as("n2"))
    val dots = v.select(col("id").as("a"), col("token"), col("w").as("wa"))
      .join(v.select(col("id").as("b"), col("token"), col("w").as("wb")), "token")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(norms.select(col("id").as("a"), col("n2").as("na2")), "a")
      .join(norms.select(col("id").as("b"), col("n2").as("nb2")), "b")
      .select(col("a"), col("b"), col("dot"), col("na2"), col("nb2"))
  }

  /** Rolling-hash fingerprint per document. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.GraftExpressions.strHash(lower(col(textCol))).as("fp"))

  /** Exact-substring candidate pairs: docs sharing a run of >= l consecutive
    * tokens (SURVEY §2 B6 detection semantics — any common substring of
    * length >= l contains a common l-gram, so an l-gram equi-join finds
    * exactly the same pairs as a suffix-array LCP scan with threshold l;
    * the genuine suffix-array implementation lives in [[SuffixArrayPass]]
    * and is unit-tested equal to this). Scales as a hash join on l-gram
    * hashes; skew-salted like every bucket join. */
  def substringPairs(df: DataFrame, idCol: String, textCol: String,
                     l: Int = SubstringL,
                     saltCap: Int = SaltCap, saltFanout: Int = SaltFanout): DataFrame =
    SkewSalting.selfJoinPairs(gramTable(df, idCol, textCol, l),
      Seq("gram_hash"), "id", saltCap, saltFanout)

  /** Distinct (id, gram_hash) rows: one per l-token run of each doc. The
    * gram key is a rolling window fold over token hashes (one kernel pass
    * per row) — never materializes l-token strings per position. */
  def gramTable(df: DataFrame, idCol: String, textCol: String,
                l: Int = SubstringL): DataFrame =
    df.select(col(idCol).as("id"),
        explode(graft.functions.GraftExpressions.gramHashes(
          tokens(col(textCol)), l)).as("gram_hash"))
      .distinct()

  // ---- PII scrubbing (training-data hygiene: detect + redact emails,
  // IPv4 addresses and phone-like digit runs before anything trains on
  // the text) -----------------------------------------------------------

  /** Conservative, lookaround-free PII patterns — RE2-compatible by
    * construction (character classes + bounded repetition + \b only), so
    * the DuckDB oracle runs the very same automaton and the redaction is
    * engine-portable. Deliberately over-matches (a date like `2020-01-01`
    * redacts as a phone-like digit run): for training-data hygiene a
    * deterministic false positive beats a leaked number. */
  val PiiEmail: String = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PiiIp: String = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PiiPhone: String = "\\+?[0-9][0-9 -]{7,}[0-9]"

  /** (id, n_emails, n_ips, n_phones, redacted): match counts per class and
    * the text with every match replaced by its class tag. Pure codegen'd
    * column expressions — a map-side scan at any corpus size. Redaction
    * order is pinned (email → ip → phone) so overlapping matches resolve
    * deterministically, and each class is COUNTED on the same intermediate
    * it is redacted from — n_phones counts what actually became `<PHONE>`,
    * not raw-text matches an earlier class already swallowed (an email
    * local part of 11 digits is one email, zero phones). Counts therefore
    * always reconcile with the tags in `redacted`. */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val afterEmail = regexp_replace(col(textCol), PiiEmail, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, PiiIp, "<IP>")
    df.select(col(idCol).as("id"),
      size(regexp_extract_all(col(textCol), lit(PiiEmail), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(afterEmail, lit(PiiIp), lit(0))).cast("long").as("n_ips"),
      size(regexp_extract_all(afterIp, lit(PiiPhone), lit(0))).cast("long").as("n_phones"),
      regexp_replace(afterIp, PiiPhone, "<PHONE>").as("redacted"))
  }

  // ---- intra-document repetition (Gopher-style quality signal) ----------

  /** Per-document duplicate-l-gram share: n_grams counts every l-gram
    * OCCURRENCE (position), n_dup_grams the occurrences whose gram appears
    * ≥ 2 times in the same document, rep_millis their ratio — the
    * "fraction of duplicated n-grams" repetition filter corpus-curation
    * recipes cut on (templated/spammy text scores high). Docs with < l
    * tokens emit nothing. Two map-side-combining groupBys, no join — a
    * per-document computation at any corpus size. */
  def repetition(df: DataFrame, idCol: String, textCol: String,
                 l: Int = SubstringL): DataFrame =
    df.select(col(idCol).as("id"),
        explode(graft.functions.GraftExpressions.gramHashes(
          tokens(col(textCol)), l)).as("gram_hash"))
      .groupBy("id", "gram_hash").agg(count(lit(1)).as("cnt"))
      .groupBy("id")
      .agg(sum(col("cnt")).as("n_grams"),
        sum(when(col("cnt") >= 2L, col("cnt")).otherwise(0L)).as("n_dup_grams"))
      .withColumn("rep_millis", expr("(n_dup_grams * 1000) div n_grams"))

  /** Per-document duplicate-LINE fraction — the second Gopher-style
    * repetition signal next to [[repetition]]'s duplicate-gram share
    * (MassiveText cuts documents whose duplicate-line fraction is high:
    * boilerplate, navigation chrome, chat logs). Lines = the text split on
    * the LITERAL separator `sep`, trimmed, empties dropped;
    * dup_line_millis = (n_lines − distinct lines)·1000 div n_lines (the
    * engine's exact-integer cross-engine parity convention). Documents
    * with zero (non-empty) lines emit nothing.
    *
    * Pure per-row array expressions — map-side at any corpus size, no
    * shuffle, no state.
    *
    * `sep` defaults to "\n" (the real-corpus line break). The driver's
    * synthetic documents carry no newline bytes at all (builder round-4
    * note), so the oracled query q55 passes the vocabulary word " line "
    * as separator to stay non-degenerate on that data; genuine multi-line
    * behavior is pinned by TextAnalysisSpec fixtures and the edge-fixture
    * tool's multi-line document. */
  def dupLineStats(df: DataFrame, idCol: String, textCol: String,
                   sep: String = "\n"): DataFrame = {
    val pieces = split(col(textCol), java.util.regex.Pattern.quote(sep), -1)
    val lines = filter(transform(pieces, p => trim(p)), p => length(p) > 0)
    df.select(col(idCol).as("id"), lines.as("_l"))
      .where(size(col("_l")) > 0)
      .select(col("id"),
        size(col("_l")).cast("long").as("n_lines"),
        (size(col("_l")) - size(array_distinct(col("_l")))).cast("long")
          .as("n_dup_lines"))
      .withColumn("dup_line_millis", expr("(n_dup_lines * 1000) div n_lines"))
  }

  /** Corpus-wide exact LINE dedup (RefinedWeb/C4-style sub-document
    * dedup: boilerplate lines — navigation chrome, cookie banners, footer
    * text — repeat across millions of pages; removing repeated lines while
    * keeping the documents is standard corpus curation). Every non-empty
    * trimmed line keeps exactly its FIRST corpus occurrence (ordered by
    * (doc_id, position)); all later copies anywhere in the corpus drop.
    * Documents are reassembled from their surviving lines in original
    * order; documents with no surviving line are omitted.
    *
    * Output: (id, text, n_kept, n_dropped) — `text` rejoined with `sep`.
    *
    * Scale shape: first-occurrence selection is groupBy(line).min(struct
    * (doc_id, pos)) — partial (map-side) aggregation, so a line repeated
    * 10^9 times contributes one partial row per map task, NEVER a window
    * over the viral line group (the straggler this operator would
    * otherwise create is exactly the boilerplate it exists to remove).
    * The join-back is an equi-join on the line value (AQE-splittable);
    * reassembly aggregates each document's own lines (bounded by document
    * size). Exact — grouping is on the line STRING, not a hash. */
  def dedupLinesAcrossCorpus(df: DataFrame, idCol: String, textCol: String,
                             sep: String = "\n"): DataFrame = {
    val pieces = split(col(textCol), java.util.regex.Pattern.quote(sep), -1)
    val lines = filter(transform(pieces, p => trim(p)), p => length(p) > 0)
    val exploded = df
      .select(col(idCol).as("id"), posexplode(lines).as(Seq("pos", "line")))
      .localCheckpoint(false) // consumed by the winner agg AND the join-back
    val winners = exploded
      .groupBy("line")
      .agg(min(struct(col("id"), col("pos"))).as("first"))
      .select(col("line"), col("first")("id").as("_wid"), col("first")("pos").as("_wpos"))
    val doc = exploded.join(winners, Seq("line"))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("id") === col("_wid") && col("pos") === col("_wpos"), 1L)
          .otherwise(0L)).as("n_kept"),
        array_sort(collect_list(when(
          col("id") === col("_wid") && col("pos") === col("_wpos"),
          struct(col("pos"), col("line"))))).as("kept"))
      .where(col("n_kept") > 0L)
    doc.select(col("id"),
      array_join(transform(col("kept"), k => k("line")), sep).as("text"),
      col("n_kept").cast("long").as("n_kept"),
      (col("n_total") - col("n_kept")).cast("long").as("n_dropped"))
  }

  /** C4-style LINE cleaning (Raffel et al. 2020 §2.2: the public C4
    * pipeline retains only lines that look like natural sentences —
    * minimum word count, no boilerplate phrases, optionally terminal
    * punctuation — and reassembles the page from survivors). A line is
    * KEPT iff
    *   - it has ≥ `minWords` whitespace words, AND
    *   - its lowercase form contains NONE of `badSubstrings`, AND
    *   - (when `requireTerminal`) its last character is one of `.!?"`.
    * Lines = text split on the LITERAL `sep`, trimmed, empties dropped
    * (the [[dupLineStats]] convention, same cross-engine trim semantics).
    * Every input document emits a row — a fully-boilerplate page comes
    * back with empty text and n_kept = 0, so the caller decides the
    * document-level cut.
    *
    * Output: (id, text, n_kept, n_dropped) — `text` rejoined with `sep`.
    *
    * Pure per-row string/array expressions — map-side at any corpus size,
    * no shuffle, no join, no state. */
  def cleanLines(df: DataFrame, idCol: String, textCol: String,
                 sep: String = "\n", minWords: Int = 3,
                 badSubstrings: Seq[String] =
                   Seq("lorem ipsum", "javascript", "cookie policy"),
                 requireTerminal: Boolean = false): DataFrame = {
    require(badSubstrings.forall(b => b.nonEmpty && b == b.toLowerCase),
      "badSubstrings must be non-empty and lowercase (matched against lower(line))")
    val pieces = split(col(textCol), java.util.regex.Pattern.quote(sep), -1)
    val lines = filter(transform(pieces, p => trim(p)), p => length(p) > 0)
    def keep(l: Column): Column = {
      val words = size(filter(split(l, " ", -1), w => length(w) > 0)) >= minWords
      val clean = badSubstrings.map(b => instr(lower(l), b) === 0)
        .reduce(_ && _)
      val terminal =
        if (requireTerminal) substring(l, -1, 1).isin(".", "!", "?", "\"")
        else lit(true)
      words && clean && terminal
    }
    df.select(col(idCol).as("id"), lines.as("_l"))
      .select(col("id"), filter(col("_l"), keep _).as("_k"), size(col("_l")).as("_n"))
      .select(col("id"),
        array_join(col("_k"), sep).as("text"),
        size(col("_k")).cast("long").as("n_kept"),
        (col("_n") - size(col("_k"))).cast("long").as("n_dropped"))
  }

  /** Gopher/MassiveText document-quality rule gate (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from Training
    * Gopher", arXiv:2112.11446, Table A1 — the standard pre-training
    * quality filter battery), in the engine's exact-integer cross-engine
    * formulation (every ratio threshold is an integer inequality, so the
    * DuckDB oracle hash-matches bit-for-bit, no float division anywhere):
    *
    *   - word count in [minWords, maxWords]           (Gopher: 50..100k)
    *   - mean word length in [3, 10] chars            (3n ≤ Σlen ≤ 10n)
    *   - symbol-to-word ratio ≤ 0.1 ('#' + '…'-as-'...')  (10·sym ≤ n)
    *   - ≤ 90% of lines start with a bullet ('- '/'* ')   (10·b ≤ 9·L)
    *   - ≤ 30% of lines end in an ellipsis '...'          (10·e ≤ 3·L)
    *   - ≥ 80% of words contain an alphabetic char        (5·a ≥ 4·n)
    *   - ≥ minStop distinct required stopwords present
    *
    * Words = non-empty lowercase SINGLE-SPACE tokens; lines = the text
    * split on the LITERAL `sep`, trimmed, empties dropped (the
    * [[dupLineStats]] convention). PINNED DIVERGENCE from the paper: a
    * token spanning a `sep` boundary ("a\nb") counts as ONE word here,
    * because words split on ' ' only, not on the line separator — the
    * oracled corpus delimits with " line " so both engines agree, and the
    * convention is frozen with the oracle hash; normalizing `sep` to a
    * space first would change q64's declared results. Zero-word /
    * zero-line documents pass the vacuous ratio
    * rules (0 ≤ 0) and fail the word-count floor, mirroring the paper's
    * remove-empty behavior. Emits the metric columns, one boolean per
    * rule, and the conjunction `keep` — the caller cuts on `keep` or
    * re-weighs individual rules.
    *
    * Pure per-row string/array expressions — map-side at any corpus size,
    * no shuffle, no join, no UDF; the whole gate rides one
    * WholeStageCodegen span over the scan. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  sep: String = "\n", minWords: Int = 50,
                  maxWords: Int = 100000,
                  requiredStopwords: Seq[String] =
                    Seq("the", "be", "to", "of", "and", "that", "have", "with"),
                  minStop: Int = 2): DataFrame = {
    require(requiredStopwords.nonEmpty &&
      requiredStopwords.forall(w => w.nonEmpty && w == w.toLowerCase),
      "requiredStopwords must be non-empty lowercase words")
    val words = filter(split(lower(col(textCol)), " ", -1), w => length(w) > 0)
    val pieces = split(col(textCol), java.util.regex.Pattern.quote(sep), -1)
    val lines = filter(transform(pieces, p => trim(p)), p => length(p) > 0)
    val nSym = (countOcc(col(textCol), "#") +
      countOcc(col(textCol), "...")).cast("long")
    val nStop = requiredStopwords
      .map(w => when(array_contains(words, w), 1L).otherwise(0L))
      .reduce(_ + _)
    df.select(col(idCol).as("id"), words.as("_w"), lines.as("_l"),
        nSym.as("_sym"), nStop.as("_stop"))
      .select(col("id"),
        size(col("_w")).cast("long").as("n_words"),
        coalesce(aggregate(col("_w"), lit(0L), (s, w) => s + length(w)),
          lit(0L)).as("_sumlen"),
        size(filter(col("_w"), w => w.rlike("[a-z]"))).cast("long").as("_alpha"),
        size(col("_l")).cast("long").as("n_lines"),
        size(filter(col("_l"), l =>
          substring(l, 1, 2).isin("- ", "* "))).cast("long").as("_bullet"),
        size(filter(col("_l"), l =>
          substring(l, -3, 3) === "...")).cast("long").as("_ell"),
        col("_sym"), col("_stop"))
      .select(col("id"), col("n_words"), col("n_lines"),
        col("n_words").between(minWords.toLong, maxWords.toLong).as("wordcount_ok"),
        (lit(3L) * col("n_words") <= col("_sumlen") &&
          col("_sumlen") <= lit(10L) * col("n_words")).as("mean_len_ok"),
        (lit(10L) * col("_sym") <= col("n_words")).as("symbol_ok"),
        (lit(10L) * col("_bullet") <= lit(9L) * col("n_lines")).as("bullet_ok"),
        (lit(10L) * col("_ell") <= lit(3L) * col("n_lines")).as("ellipsis_ok"),
        (lit(5L) * col("_alpha") >= lit(4L) * col("n_words")).as("alpha_ok"),
        (col("_stop") >= minStop.toLong).as("stopword_ok"))
      .withColumn("keep",
        col("wordcount_ok") && col("mean_len_ok") && col("symbol_ok") &&
          col("bullet_ok") && col("ellipsis_ok") && col("alpha_ok") &&
          col("stopword_ok"))
  }

  /** Corpus-wide exact substring-SPAN dedup (the ExactSubstr operation of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 — remove every duplicated token run of
    * ≥ `l` tokens from all but its first corpus occurrence), formulated as
    * an l-gram cover: a duplicated run of length ≥ l is exactly the union
    * of its l-grams, each of which is a non-first occurrence of that gram
    * value, so dropping every token covered by a non-first l-gram
    * occurrence removes precisely the duplicated runs (runs < l survive).
    * First occurrence = min (doc_id, pos) over occurrences of the same
    * gram STRING (grouped by rolling hash AND the gram text — a hash
    * collision can never remove a token). Documents are reassembled from
    * surviving tokens in order; every document emits a row.
    *
    * Output: (id, text, n_tokens, n_removed).
    *
    * Scale shape: gram explosion and coverage expansion are linear (×l) in
    * corpus tokens; first-occurrence selection is a map-side-combining
    * groupBy min-struct — a boilerplate gram repeated 10^9 times
    * contributes one partial row per map task, never a window; the
    * join-back is an equi-join on (hash, gram) that AQE can split; the
    * removed-position set and the reassembly filter are bounded by a
    * single document's token count. */
  def dedupSpansAcrossCorpus(df: DataFrame, idCol: String, textCol: String,
                             l: Int = SubstringL): DataFrame = {
    val toked = df.select(col(idCol).as("id"),
        graft.functions.TextHash.tokens(col(textCol)).as("t"))
      .localCheckpoint(false) // consumed by the gram leg AND the reassembly
    val grams = toked.where(size(col("t")) >= l)
      .select(col("id"), col("t"),
        posexplode(graft.functions.GraftExpressions.gramHashes(col("t"), l)))
      .select(col("id"), col("pos"), col("col").as("gh"),
        concat_ws(" ", slice(col("t"), col("pos") + 1, lit(l))).as("gram"))
      .localCheckpoint(false) // winner agg AND non-first filter
    val winners = grams.groupBy("gh", "gram")
      .agg(min(struct(col("id"), col("pos"))).as("first"))
      .select(col("gh"), col("gram"),
        col("first")("id").as("_wid"), col("first")("pos").as("_wpos"))
    val covered = grams.join(winners, Seq("gh", "gram"))
      .where(!(col("id") === col("_wid") && col("pos") === col("_wpos")))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(l - 1))).as("rpos"))
      .groupBy("id").agg(collect_set(col("rpos")).as("_rm"))
    val rm = coalesce(col("_rm"), array().cast("array<int>"))
    val indexed = transform(col("t"),
      (tok, i) => struct(i.cast("int").as("p"), tok.as("tok")))
    val kept = filter(indexed, s => !array_contains(rm, s("p")))
    toked.join(covered, Seq("id"), "left")
      .select(col("id"),
        array_join(transform(kept, s => s("tok")), " ").as("text"),
        size(col("t")).cast("long").as("n_tokens"),
        size(rm).cast("long").as("n_removed"))
  }

  /** Vocabulary build + out-of-vocabulary coverage — the tokenizer-
    * coverage signal a training pipeline tracks before committing to a
    * vocab: vocab = the `vocabSize` most frequent whitespace tokens over
    * the whole corpus (count desc, ties by token string — deterministic),
    * then per document the token count and how many tokens fall outside
    * the vocab (oov_millis = n_oov·1000 div n_tokens, the exact-integer
    * cross-engine convention).
    *
    * Scale shape: corpus token counts are one map-side-combining groupBy;
    * top-V selection compiles to TakeOrderedAndProject (every task keeps
    * its OWN top V — bounded state — and the driver merges V·tasks rows;
    * V is a vocabulary size, ~32k, a constant — not a data-sized k); the
    * per-doc leg joins exploded tokens against the BROADCAST vocab and
    * re-aggregates by doc map-side — the corpus is never shuffled by
    * token on that leg. */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(graft.functions.TextHash.tokens(col(textCol))).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("_cnt"))
      .orderBy(col("_cnt").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(true).as("_inv"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_millis", expr("(n_oov * 1000) div n_tokens"))
  }

  /** URL normalization (A7 family: the reference normalizes property
    * values per source during import — R:.../datalake/
    * DataLakeImportImplementation.scala; a web-corpus pipeline normalizes
    * URLs BEFORE dedup so scheme/www/host-case/trailing-slash/fragment
    * variants of one address collapse to one key): trim → strip the
    * http(s) scheme → strip the #fragment → strip a leading www. →
    * lowercase the HOST only (path case is significant) → trim trailing
    * slashes. Pure codegen'd string expressions — map-side at any scale,
    * usable directly as a pre-collapse dedup key (spec pins that variant
    * URLs collapse; q56 oracles the exact recipe against DuckDB). */
  def normalizeUrl(url: Column): Column = {
    val noScheme = regexp_replace(trim(url), "(?i)^https?://", "")
    val noFrag = regexp_replace(noScheme, "#.*$", "")
    val noWww = regexp_replace(noFrag, "(?i)^www\\.", "")
    // 'host/?q' ≡ 'host?q': slashes directly before a '?' collapse (the
    // oracle mirrors with the 'g' flag — Spark regexp_replace is
    // replace-all, DuckDB's default is first-match)
    val u = regexp_replace(noWww, "/+\\?", "?")
    // the host ends at the first '/' OR '?' — a query string with no path
    // ('host?Sort=AZ') is case-significant past the '?' (review finding:
    // the slash-only cut lowercased whole query strings)
    val slash = instr(u, "/")
    val q = instr(u, "?")
    val cut = when(slash > 0 && (q === 0 || slash < q), slash)
      .when(q > 0, q).otherwise(lit(0))
    val hostLowered = when(cut > 0,
        concat(lower(u.substr(lit(1), cut - 1)), u.substr(cut, length(u))))
      .otherwise(lower(u))
    regexp_replace(hostLowered, "/+$", "")
  }

  // ---- benchmark-contamination check (train/test overlap) ---------------

  /** For each eval-set document, the share of its distinct l-gram hashes
    * that also occur anywhere in the training corpus — the standard
    * eval-benchmark contamination measure (an eval doc whose grams largely
    * appear in training data is leaked, and its scores are meaningless).
    *
    * Output: (id, n_grams, n_shared, contam_millis) for every eval doc
    * with ≥ l tokens; contam_millis = n_shared·1000 div n_grams.
    *
    * Scale shape: the eval set is tiny next to a 100 TB corpus, so its
    * distinct gram set BROADCASTS and the corpus-side gram stream is
    * filtered map-side (left_semi against the broadcast) — the corpus is
    * touched by one linear scan, never shuffled by gram; only the
    * (≤ |eval grams|) surviving gram hashes flow into the final per-doc
    * membership join. */
  def contamination(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, l: Int = SubstringL): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol).as("id"),
        explode(graft.functions.GraftExpressions.gramHashes(
          tokens(col(textCol)), l)).as("gram_hash"))
      .distinct()
    val eg = grams(evalSet).localCheckpoint(false)
    val matched = grams(corpus)
      .join(broadcast(eg.select("gram_hash").distinct()), Seq("gram_hash"), "left_semi")
      .select("gram_hash").distinct()
    eg.join(broadcast(matched.withColumn("hit", lit(1L))), Seq("gram_hash"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
      .withColumn("contam_millis", expr("(n_shared * 1000) div n_grams"))
  }
}
