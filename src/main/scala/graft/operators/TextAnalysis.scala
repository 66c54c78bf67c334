package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID, quality scoring,
  * token counting, fingerprinting. All pure Catalyst expressions (codegen'd,
  * no UDF) — one narrow pass per document at any scale.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** Context-window chunking: split each document into token windows of
    * `chunkSize` whitespace tokens advancing by `chunkSize − overlap` —
    * the sequence-prep step for pretraining / retrieval corpora. Chunk i
    * covers tokens [i·stride, i·stride + chunkSize); the last chunk is the
    * first one reaching the document end (short tail kept, never padded);
    * a doc with ≤ chunkSize tokens yields exactly one chunk. Row-local
    * explode, zero shuffle, all integer arithmetic on the token index —
    * exactly replayable by a SQL oracle. Output: input id + `chunk_idx`,
    * `n_tok`, `chunk_text`. */
  def chunkTokens(docs: DataFrame, id: Column, text: Column,
                  chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need chunkSize > overlap >= 0, got chunkSize=$chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val toks = when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))
    // tokens materialize in a FIRST projection: embedding `toks` in the
    // generator too would copy the split subtree across the
    // Generate/Project boundary (no CSE there) and tokenize every doc
    // twice
    val tokenized = docs.select(id, toks.as("__toks"))
    val n = size(col("__toks"))
    // last chunk index: ceil((n - chunkSize)/stride) via integer math —
    // (n + stride - chunkSize - 1) div stride, clamped at 0
    val lastIdx = greatest(
      floor((n + lit(stride - chunkSize - 1)).cast("double") / lit(stride)).cast("int"),
      lit(0))
    tokenized.select(id, col("__toks"),
        posexplode(sequence(lit(0), lastIdx)).as(Seq("chunk_idx", "__start")))
      .select(id, col("chunk_idx"),
        size(slice(col("__toks"), col("__start") * stride + 1, lit(chunkSize))).as("n_tok"),
        array_join(slice(col("__toks"), col("__start") * stride + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
  }

  /** Char-trigram language-model quality score — the shape of CCNet/Gopher
    * perplexity filtering, self-trained: the corpus's own trigram relative
    * frequencies are the model, and each document scores
    * `avg(ln p(tri))` over its trigrams (low score = improbable character
    * sequences = gibberish/boilerplate candidates). Deterministic: no
    * sampling, one trigram-explode pass. Scale shape: the model is bounded
    * by the observed trigram vocabulary (≲ charset³, tiny next to the
    * corpus) and broadcasts; the per-doc aggregate partially combines
    * BEFORE its shuffle (explode preserves row locality, so each doc's
    * trigrams sit in one partition and the shuffle carries one row per
    * doc). Casefolded text is materialized ONCE per row before the
    * per-trigram lambda (the interpreted-HOF let-binding idiom — inlining
    * lower(text) into the lambda would recompute it per trigram). Docs
    * with < 3 chars have no trigrams and are absent from the output.
    * Output: (doc_id, lm_score = round(avg ln p, 6), n_tri).
    *
    * `maxVocab` (0 = unlimited, the exact self-trained model): cap the
    * broadcast model to the top-`maxVocab` trigrams by corpus count (ties
    * by trigram, deterministic). The sf10 ladder measured the UNCAPPED
    * model's broadcast-build cost drifting ~1.13x over linear per decade
    * of corpus growth — the vocabulary is bounded by charset³ for clean
    * text but grows with noise/unicode at a 100 TB crawl. Out-of-vocab
    * trigrams score the count-1 floor ln(1/total) against the SAME
    * full-corpus total (kept probabilities stay honest, the floor is a
    * true lower bound), so every doc still scores and low-score ordering
    * is preserved for gibberish. */
  /** Population-derived vocabulary cap for [[lmTrigramScore]] — the
    * SCALING.md bucket-count meta-rule applied to a broadcast MODEL: the
    * model may keep at most one trigram row per corpus document (a trigram
    * rarer than one-per-doc carries no more signal than the OOV floor it
    * would replace), floored at `floor` so small corpora keep the exact
    * uncapped model (clean-text trigram vocabularies are a few hundred
    * rows — far under 4096 — so at test SFs the cap NEVER truncates and
    * values are bit-identical to the uncapped model), and hard-capped at
    * `budget` rows so the broadcast stays a few MB at ANY corpus size
    * (the r14 sf10 ladder measured the uncapped model's build cost
    * drifting ~1.13× over linear per decade — a 100 TB noisy crawl grows
    * trigram vocab without bound through unicode/noise). Pure integer
    * arithmetic so a SQL oracle derives the identical cap from count(*). */
  def maxVocabFor(corpusDocs: Long, floor: Int = 4096, budget: Int = 65536): Int = {
    require(floor >= 1 && budget >= floor,
      s"need budget >= floor >= 1, got floor=$floor budget=$budget")
    math.min(budget.toLong, math.max(floor.toLong, corpusDocs)).toInt
  }

  def lmTrigramScore(docs: DataFrame, id: Column, text: Column,
                     maxVocab: Int = 0): DataFrame = {
    val docsT = docs.select(id.cast("long").as("doc_id"), lower(text).as("__t"))
    // ONE compiled extraction pass (graft.expressions.CharNgramCounts)
    // emits the already-reduced per-doc map tri → count — no interpreted
    // per-position lambda, no O(corpus chars) single-gram explode. The
    // exploded rows are consumed IN PLACE by both consumers, with no
    // (doc_id, tri) re-aggregation in between: the model aggregate's
    // partial agg collapses to ≤ vocab rows per task before its exchange,
    // and the scoring aggregate's partial agg collapses to one row per
    // doc (a doc's exploded rows never leave its scan partition), so
    // NOTHING corpus-sized is ever shuffled. A previous formulation
    // re-grouped by (doc_id, tri) to give both consumers a shared
    // ReusedExchange — a near-identity when per-doc distinct trigrams are
    // few, but on trigram-diverse corpora it shuffled the whole
    // (doc, tri) string frame twice (measured 256 s at sf10 where the
    // two kernel passes cost seconds).
    val perDoc = docsT
      .select(col("doc_id"),
        explode(graft.expressions.TextExpressions.charNgramCounts(col("__t"), 3)))
      .select(col("doc_id"), col("key").as("tri"), col("value").as("cnt"))
    val modelAll = perDoc.groupBy(col("tri")).agg(sum(col("cnt")).as("cnt"))
    // Scalar corpus total + broadcast, NOT sum().over(Window.partitionBy()):
    // the unpartitioned window would serialize the whole vocabulary frame
    // through a single-partition WindowExec; the scalar agg is one tiny job
    // and the cross join broadcasts a single row. The total is over ALL
    // trigram instances even when the vocab is capped — kept probabilities
    // stay honest and the OOV floor divides by the same denominator.
    val total = modelAll.agg(sum(col("cnt")).as("__total"))
    // vocab cap: orderBy+limit compiles to TakeOrderedAndProject — no full
    // sort shuffle; tri tiebreak makes the kept set deterministic
    val model =
      if (maxVocab > 0) modelAll.orderBy(col("cnt").desc, col("tri").asc).limit(maxVocab)
      else modelAll
    val logp = model.crossJoin(broadcast(total)).select(col("tri"),
      log(col("cnt").cast("double") / col("__total").cast("double")).as("__logp"))
    // avg over trigram INSTANCES = cnt-weighted average over the reduced
    // frame; n_tri likewise recovers the instance count. Uncapped keeps
    // the exact inner-join plan; capped left-joins and floors OOV.
    if (maxVocab <= 0)
      perDoc.join(broadcast(logp), "tri")
        .groupBy(col("doc_id"))
        .agg(round(sum(col("cnt") * col("__logp")) / sum(col("cnt")), 6).as("lm_score"),
          sum(col("cnt")).as("n_tri"))
    else
      perDoc.join(broadcast(logp), Seq("tri"), "left")
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("cnt"),
          coalesce(col("__logp"),
            log(lit(1.0) / col("__total").cast("double"))).as("__lp"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("cnt") * col("__lp")) / sum(col("cnt")), 6).as("lm_score"),
          sum(col("cnt")).as("n_tri"))
  }

  /** APPROXIMATE subword token count: word-piece regex (letter runs, digit
    * runs, single punctuation) — the standard cheap estimator for LLM token
    * budgeting when the real tokenizer is off-cluster. This is NOT a BPE:
    * it never applies merges, it just counts regex pieces; it stays fully
    * codegen'd and DuckDB-replayable. For merge-true counts use
    * [[Bpe.tokenCount]]. */
  def tokenCountApprox(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Punctuation density, rounded to a cross-engine-stable 6dp. */
  def punctRatio(text: Column): Column =
    round(size(regexp_extract_all(text, lit("[\\p{Punct}]"), lit(0)))
      / greatest(length(text), lit(1)).cast("double"), 6)

  /** Quality features: length, punctuation ratio, stopword ratio, mean word
    * length — the fastText-style cheap quality signals. */
  def qualityFeatures(docs: DataFrame, text: Column, id: Column): DataFrame = {
    val words = split(lower(trim(text)), "\\s+")
    val stop = array(Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
      .map(lit): _*)
    docs.select(
      id.as("doc_id"),
      length(text).as("n_chars"),
      tokenCountWs(text).as("n_tokens"),
      punctRatio(text).as("punct_ratio"),
      round(size(filter(words, w => array_contains(stop, w)))
        / greatest(size(words), lit(1)).cast("double"), 6).as("stopword_ratio"),
      round(length(regexp_replace(text, "\\s+", ""))
        / greatest(size(words), lit(1)).cast("double"), 6).as("mean_word_len"))
  }

  /** Language-ID by stopword voting: score per language = count of hits of
    * that language's most-frequent function words; argmax wins, 'und' if no
    * hits. N-gram-free heuristic that's one pass + small per-row work.
    * Profile source: public most-common-word lists. */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "you", "that", "was", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "ich"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans", "que"),
    "es" -> Seq("el", "de", "que", "la", "los", "una", "por", "con", "para"),
    "zh" -> Seq("的", "是", "了", "我", "在", "他", "这", "不", "有"))

  def langId(text: Column): Column = {
    // the word array is bound ONCE per row as a lambda variable (the
    // let-binding idiom): higher-order lambdas evaluate interpreted with
    // no CSE, so inlining split(lower(text)) into each language's filter
    // would re-split the text once per language — measured 2× the whole
    // pass at sf0.1
    def scoresOver(words: Column): Column = array(
      langProfiles.toSeq.sortBy(_._1).map { case (lang, ws) =>
        // zh is unsegmented — whitespace tokens would never equal a profile
        // word, so score zh by CHARACTER containment instead (each profile
        // char found anywhere in the text counts once)
        val score =
          if (lang == "zh")
            ws.map(ch => when(contains(text, lit(ch)), 1).otherwise(0))
              .reduce((a, b) => a + b)
          else {
            val profile = array(ws.map(lit): _*)
            size(filter(words, w => array_contains(profile, w)))
          }
        struct(score.as("score"), lit(lang).as("lang"))
      }: _*)
    // argmax by (score, lang): array_max on structs orders by first field,
    // ties broken by lang name — deterministic.
    val best = array_max(element_at(
      transform(array(split(lower(text), "\\s+")), words => scoresOver(words)), 1))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Document fingerprint: md5 of casefolded, punctuation- and
    * whitespace-normalized text — robust to formatting-only edits.
    * (The rolling-hash variant for shingle fingerprints lives in
    * Dedup.shingles + md5.) */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(regexp_replace(lower(text), "[\\p{Punct}]", ""), "\\s+", " "))

  // ------------------------------------------------------------- cleaning

  /** Training-corpus cleaning: boilerplate stripping and PII redaction as
    * pure codegen'd regexp chains — at 100 TB these run inside the scan's
    * WholeStageCodegen span with zero shuffle, the only shape that
    * survives a full-corpus scrub pass. Patterns deliberately stay inside
    * the Java-regex ∩ RE2 dialect (char classes, bounded quantifiers,
    * non-capturing groups; no lookaround/backrefs) so the DuckDB oracle
    * replays them verbatim. */
  object Clean {
    val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val UrlRe   = "https?://[^\\s]+"
    val Ipv4Re  = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
    /** International-form phone (+ then 7-15 digits): the unambiguous
      * subset; free-form national formats are corpus-specific policy. */
    val PhoneRe = "\\+\\d{7,15}"
    val HtmlRe  = "<[^>]*>"

    def stripHtml(text: Column): Column = regexp_replace(text, HtmlRe, " ")
    def redactEmails(text: Column): Column = regexp_replace(text, EmailRe, "<EMAIL>")
    def redactUrls(text: Column): Column = regexp_replace(text, UrlRe, "<URL>")
    def redactIpv4(text: Column): Column = regexp_replace(text, Ipv4Re, "<IP>")
    def redactPhones(text: Column): Column = regexp_replace(text, PhoneRe, "<PHONE>")
    def normalizeWhitespace(text: Column): Column =
      trim(regexp_replace(text, "\\s+", " "))

    /** The full scrub: markup out first (so addresses inside attributes
      * still redact from the surviving text), URLs before bare IPs (an IP
      * inside a URL is already gone), whitespace last. */
    def clean(text: Column): Column =
      normalizeWhitespace(redactPhones(redactIpv4(redactEmails(redactUrls(
        stripHtml(text))))))
  }
  /** Doc-level word co-occurrence above a support threshold — the
    * market-basket/apriori FIRST level over documents-as-baskets: distinct
    * lowercased words per doc, unordered pairs (a < b) counted across
    * docs, kept when support ≥ `minSupport`. `maxWordFreq` drops
    * stop-words BEFORE the pair join (a word in every doc contributes
    * |docs|·|vocab| pairs — the same frequency-cap discipline as
    * ngramJaccard's stop-shingle cap), and the apriori antimonotone
    * property prunes the LOW side just as early: support(a,b) ≤
    * min(df(a), df(b)), so a word seen in fewer than `minSupport` docs
    * cannot appear in any reported pair — dropping it before the pair
    * join is exact. On Zipf-shaped text the df-below-support tail is
    * most of the vocabulary (measured: the per-doc pair fan-out at sf10
    * fell from ~1B shuffled pair rows to the stop/mid-band only), so
    * this prune, not the stop cap, is what bounds the pair shuffle at
    * 100 TB. With both, per-word fanout is bounded and the pair shuffle
    * carries (word, doc) ids, never text.
    * Returns (word_a, word_b, support). */
  def cooccurrence(docs: DataFrame, text: Column, id: Column,
                   minSupport: Long = 2L, maxWordFreq: Long = 100000L): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val words = docs.select(id.as("doc_id"),
        explode(array_distinct(split(lower(text), "\\s+"))).as("w"))
      .filter(length(col("w")) > 0)
    val kept = words.join(
      words.groupBy(col("w")).agg(count(lit(1)).as("__f"))
        .filter(col("__f") <= maxWordFreq && col("__f") >= minSupport)
        .select(col("w")),
      Seq("w"))
    kept.as("a").join(kept.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("word_a"), col("b.w").as("word_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }
}

/** Real byte-pair-encoding token counting: the classic greedy merge loop
  * (Sennrich et al. 2016; the algorithm GPT-2's tokenizer runs per word) over
  * a ranked merges table. [[TextAnalysis.tokenCountApprox]] estimates; this
  * COUNTS — the distinction matters because packing capacity
  * ([[Curation.packTokens]]) is denominated in these numbers.
  *
  * The embedded [[Bpe.defaultMerges]] is a small demonstration vocabulary
  * (common English merges) so the operator is runnable out of the box in
  * this zero-egress container; production swaps in a real tokenizer's
  * `merges.txt` via [[Bpe.parseMerges]] — the algorithm is identical, only
  * the table changes. Runs per-partition (`mapPartitions`) with a bounded
  * per-task word cache: corpus word frequency is Zipfian, so the cache
  * absorbs almost every lookup and per-document cost approaches one hash
  * probe per word at 100 TB.
  */
object Bpe {

  /** Pretokenizer: letter runs, digit runs, punctuation runs — a simplified,
    * documented stand-in for GPT-2's pretoken regex (which additionally
    * special-cases contractions and leading spaces). */
  private val pretoken = java.util.regex.Pattern.compile(
    "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+")

  /** The pretokenizer regex source, for callers replaying pretokenization
    * through Catalyst (`regexp_extract_all`) or an external engine. */
  def pretokenPattern: String = pretoken.pattern()

  /** Demonstration merges, rank = position (lower merges first). Pairs over
    * lowercase ASCII; words that hit no pair simply stay at one symbol per
    * character — exactly how a real table treats out-of-vocabulary text. */
  val defaultMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("an", "d"), ("in", "g"), ("t", "o"), ("o", "u"), ("i", "s"),
    ("e", "d"), ("a", "l"), ("a", "r"), ("s", "t"), ("o", "f"),
    ("i", "t"), ("e", "s"), ("c", "h"), ("o", "m"), ("l", "e"),
    ("l", "l"), ("s", "e"), ("w", "h"), ("th", "at"), ("wh", "ich"),
    ("i", "c"), ("ic", "h"), ("e", "l"), ("u", "r"), ("r", "o"))

  /** Parse a tokenizer `merges.txt`: one space-separated pair per line,
    * rank = line order; `#`-prefixed header lines skipped. */
  def parseMerges(lines: Iterator[String]): Seq[(String, String)] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val sp = l.split(" ", 2)
        require(sp.length == 2, s"malformed merges line: '$l'")
        (sp(0), sp(1))
      }.toSeq

  /** Tokenize one word: repeatedly merge the lowest-ranked adjacent pair
    * (all its occurrences, left to right) until no ranked pair remains. */
  def tokenizeWord(word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    var syms: Vector[String] = word.map(_.toString).toVector
    var done = syms.length <= 1
    while (!done) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) done = true
      else {
        val merged = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 &&
              ranks.getOrElse((syms(j), syms(j + 1)), Int.MaxValue) == bestRank) {
            merged += syms(j) + syms(j + 1); j += 2
          } else { merged += syms(j); j += 1 }
        }
        syms = merged.result()
        done = syms.length <= 1
      }
    }
    syms
  }

  /** Count BPE tokens in a single string (driver-side / test helper). */
  def countString(text: String, ranks: Map[(String, String), Int],
                  cache: java.util.HashMap[String, Int] = new java.util.HashMap): Int = {
    if (text == null) return 0
    val m = pretoken.matcher(text)
    var total = 0
    while (m.find()) {
      val w = m.group()
      val n = if (cache.containsKey(w)) cache.get(w) else {
        val c = tokenizeWord(w, ranks).length
        // bounded cache: Zipf head fits easily; reset on pathological blowup
        if (cache.size >= 65536) cache.clear()
        cache.put(w, c)
        c
      }
      total += n
    }
    total
  }

  /** Per-document BPE token counts → (doc_id, bpe_tokens). One pass, no
    * shuffle; the merges table ships once per task in the closure. */
  def tokenCount(docs: DataFrame, text: Column, id: Column,
                 merges: Seq[(String, String)] = defaultMerges): DataFrame = {
    // fail up front on a non-integral id (same contract as the ANN ops) —
    // a silent cast('long') would surface as an opaque null-field encoder
    // error mid-job instead
    val idType = docs.select(id).schema.head.dataType
    require(idType == org.apache.spark.sql.types.LongType
        || idType == org.apache.spark.sql.types.IntegerType
        || idType == org.apache.spark.sql.types.ShortType,
      s"tokenCount id column must be integral (got $idType); derive a " +
        "surrogate id (e.g. xxhash64) for non-numeric keys")
    val ranks = merges.zipWithIndex.toMap
    val s = docs.sparkSession
    import s.implicits._
    docs.select(id.cast("long").as("doc_id"), text.as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val cache = new java.util.HashMap[String, Int]
        it.map { case (d, t) => (d, countString(t, ranks, cache)) }
      }
      .toDF("doc_id", "bpe_tokens")
  }

  /** Deterministic token vocabulary for [[encode]]: the corpus's base
    * character alphabet (one distinct-chars aggregate, sorted) followed by
    * each merge's output symbol in learned order — the standard BPE vocab
    * construction (base bytes first, merges appended), so ids are stable
    * given (corpus alphabet, merge table). Bounded by |alphabet| +
    * |merges| rows regardless of corpus size. */
  def vocabFromCorpus(docs: DataFrame, text: Column,
                      merges: Seq[(String, String)]): Seq[String] = {
    val s = docs.sparkSession
    import s.implicits._
    // Distinct corpus characters. The pretoken classes ([A-Za-z]+ | [0-9]+ |
    // [^A-Za-z0-9\s]+) jointly cover every non-\s character, so the chars
    // of all pretokens are exactly the non-whitespace chars of the text —
    // computable per doc as one regexp_replace + split + array_distinct
    // (r19: the old spelling exploded one ROW per corpus character through
    // two Generates into the distinct aggregate; this one emits ≤ the
    // doc's distinct-char count ≈ alphabet size per row). The empty-string
    // guard covers whitespace-only docs, whose replace yields "" and whose
    // split would fabricate an empty-string symbol no pretoken produces.
    val base = docs.select(explode(array_distinct(split(
        regexp_replace(text.cast("string"), "\\s+", ""), ""))).as("c"))
      .filter(col("c") =!= "")
      .distinct().as[String].collect().sorted.toSeq
    val merged = merges.map { case (a, b) => a + b }
    (base ++ merged).distinct
  }

  /** BPE ENCODE to token ids — the missing middle of the tokenizer story
    * (learnMerges trains, tokenCount counts, this EMITS `input_ids`):
    * per doc, pretokenize, apply the merge table to fixpoint
    * ([[tokenizeWord]], same greedy-rank semantics as tokenCount), map
    * each subword through the vocabulary → (doc_id, input_ids, n_tokens).
    * Feed the result straight into `Curation.packTokens` for training
    * sequences. Out-of-vocabulary symbols fail LOUD naming the symbol
    * (an encode with a mismatched vocab must never silently emit garbage
    * ids). Row-local, zero shuffle; the merge table + vocab ship once per
    * task. */
  def encode(docs: DataFrame, text: Column, id: Column,
             merges: Seq[(String, String)], vocab: Seq[String]): DataFrame = {
    require(vocab.nonEmpty, "encode needs a non-empty vocabulary")
    require(vocab.distinct.length == vocab.length, "vocabulary has duplicate symbols")
    val ranks = merges.zipWithIndex.toMap
    val ids = vocab.zipWithIndex.toMap
    val s = docs.sparkSession
    import s.implicits._
    docs.select(id.cast("long").as("doc_id"), text.cast("string").as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val cache = new java.util.HashMap[String, Array[Int]]
        it.map { case (d, t) =>
          val m = pretoken.matcher(if (t == null) "" else t)
          val out = Array.newBuilder[Int]
          while (m.find()) {
            val w = m.group()
            val enc = if (cache.containsKey(w)) cache.get(w) else {
              val e = tokenizeWord(w, ranks).map { sym =>
                ids.getOrElse(sym, throw new IllegalArgumentException(
                  s"BPE encode: symbol '$sym' (from word '$w') not in the " +
                  s"${ids.size}-entry vocabulary — vocab and corpus alphabet mismatch"))
              }.toArray
              if (cache.size >= 65536) cache.clear()
              cache.put(w, e)
              e
            }
            out ++= enc
          }
          val arr = out.result()
          (d, arr.toSeq, arr.length.toLong)
        }
      }
      .toDF("doc_id", "input_ids", "n_tokens")
  }

  /** One simultaneous merge sweep: replace every adjacent (a, b) by a+b,
    * greedy left-to-right, non-overlapping — Sennrich et al. 2016's
    * replace-all-occurrences step ("a a a" + (a,a) → [aa, a];
    * "a b a b" + (a,b) → [ab, ab]). */
  def applyMerge(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
        out += a + b; j += 2
      } else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /** LEARN `rounds` BPE merges from the corpus (Sennrich et al. 2016,
    * "Neural Machine Translation of Rare Words with Subword Units" — the
    * standard tokenizer-training loop): pretokenize → word vocabulary with
    * frequencies → repeatedly (count adjacent symbol pairs weighted by
    * word frequency, take the most frequent — ties broken lexicographically
    * so the table is deterministic — and merge it everywhere).
    *
    * Returns (merge_rank, pair_a, pair_b, pair_count), rank 1-based in
    * learned order — directly usable as the `merges` input of
    * [[tokenCount]] via `.map(r => (r.pair_a, r.pair_b))`.
    *
    * 100 TB story: the corpus is scanned ONCE (the word-count shuffle,
    * map-side combined, vocabulary-bounded output), and the merge rounds
    * run DRIVER-LOCAL over the collected head vocabulary (r18 shape —
    * guide §1.2: the old distributed loop paid 2 jobs + a typed
    * cache/unpersist cycle per round to move ≤ a few MB of pair counts).
    * The collect is safe by the same derivation that bounds the frame:
    * with minFreq = minFreqFor(n) = n/perDocs, the head vocabulary has at
    * most Σf/minFreq ≈ perDocs·(avg words per doc) entries — a
    * corpus-size-INDEPENDENT bound (≈ 4M rows at 200 words/doc, Zipf
    * reality far less), the same driver-state class as Lloyd centroids
    * and GD gradient vectors; a fail-loud cap guards the frozen-minFreq
    * misuse (minFreq=1 on a web corpus is exactly the r16 OOM). Ties
    * break on UTF-8 BYTE order (what Spark's orderBy and DuckDB's max()
    * both use), not JVM UTF-16 order. `minFreq` bounds the vocab under
    * web-scale typo tails (standard practice; dropped words simply can't
    * vote on merges). */
  /** Population-derived word-frequency floor for [[learnMerges]] — the
    * SCALING.md frozen-parameter rule applied to the BPE vocabulary.
    * On a web-scale long tail (typos, ids, rare names) DISTINCT words
    * grow with the corpus, so a minFreq frozen at 1 makes the word
    * vocabulary frame — the thing every merge round re-scans and
    * re-caches — corpus-sized: the r16 sf30 sweep OOM'd the vocabulary
    * hash aggregate at the default heap exactly here. One occurrence per
    * `perDocs` documents keeps small corpora exact (floor 1 below
    * `perDocs` docs — the correctness-gate SFs are byte-identical) and
    * bounds the per-round frames by the corpus's high-frequency head at
    * any scale; dropped words simply can't vote on merges (standard
    * practice, Sennrich et al. 2016 §4). The DuckDB oracle re-derives
    * the identical floor from count(*)
    * (GREATEST(1, count(*) // perDocs)), so a derivation drift between
    * engines breaks the hash gate. */
  def minFreqFor(corpusDocs: Long, perDocs: Long = 20000L): Long =
    math.max(1L, corpusDocs / perDocs)

  /** UTF-8 byte-order less-than — the collation Spark's `orderBy` on
    * strings (UTF8String binary compare) and DuckDB's ORDER BY both use;
    * JVM String.compareTo (UTF-16 units) diverges above U+FFFF. */
  private def utf8Lt(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < a.length && i < b.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    a.length < b.length
  }

  def learnMerges(docs: DataFrame, text: Column, rounds: Int,
                  minFreq: Long = 1L): Seq[(Int, String, String, Long)] = {
    require(rounds >= 1, s"learnMerges needs rounds >= 1, got $rounds")
    val s = docs.sparkSession
    import s.implicits._
    // ONE distributed job: word-count shuffle (map-side combined), head
    // filter, collect. The head is bounded corpus-size-independently by
    // the minFreq derivation (see the scale story above); the cap makes a
    // frozen-minFreq misuse fail loud instead of OOMing the driver.
    val head = docs.select(explode(regexp_extract_all(text.cast("string"),
        lit(pretoken.pattern()), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .filter(col("f") >= minFreq)
      .as[(String, Long)]
      .collect()
    require(head.length <= (1 << 23),
      s"learnMerges head vocabulary (${head.length} words) exceeds 2^23 — " +
        "minFreq is not population-derived (use Bpe.minFreqFor); a " +
        "corpus-sized vocabulary must not be collected")
    val syms: Array[Array[String]] = head.map(_._1.map(_.toString).toArray)
    val freq: Array[Long] = head.map(_._2)
    // The head is corpus-size-independent but its CONSTANT is big (a few
    // million rows at the derivation bound), so the per-round pair count
    // and merge sweep run data-parallel over strided slices (exact-long
    // partial maps merged sequentially — sums are order-free; the merge
    // sweep mutates disjoint slots). Single-threaded this loop measured
    // 2× the whole query at sf10.
    // lane count follows the SESSION's parallelism (local[N] / executor
    // slots), not the physical box: the harness also benches at reduced
    // core counts and a driver loop that grabs every physical core would
    // misreport how the engine scales
    val lanes = math.max(1, math.min(s.sparkContext.defaultParallelism,
      Runtime.getRuntime.availableProcessors))
    val out = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // weighted adjacent-pair counts over the head (exact longs)
      val partials = java.util.stream.IntStream.range(0, lanes).parallel()
        .mapToObj[java.util.HashMap[(String, String), Array[Long]]] { lane =>
          val m = new java.util.HashMap[(String, String), Array[Long]](1 << 12)
          var i = lane
          while (i < syms.length) {
            val w = syms(i); val f = freq(i)
            var j = 0
            while (j < w.length - 1) {
              val k = (w(j), w(j + 1))
              val slot = m.get(k)
              if (slot == null) m.put(k, Array(f)) else slot(0) += f
              j += 1
            }
            i += lanes
          }
          m
        }.collect(java.util.stream.Collectors.toList[
          java.util.HashMap[(String, String), Array[Long]]])
      val cnt = new java.util.HashMap[(String, String), Array[Long]](1 << 12)
      partials.forEach { m =>
        m.forEach { (k, v) =>
          val slot = cnt.get(k)
          if (slot == null) cnt.put(k, v) else slot(0) += v(0)
        }
      }
      if (cnt.isEmpty) exhausted = true
      else {
        // max by (cnt desc, a asc, b asc) under UTF-8 byte collation —
        // the exact TakeOrdered the distributed formulation ran
        var bestA: String = null; var bestB: String = null; var bestC = Long.MinValue
        val it = cnt.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue()(0); val (a, b) = e.getKey
          if (c > bestC ||
              (c == bestC && (utf8Lt(a, bestA) ||
                (a == bestA && utf8Lt(b, bestB))))) {
            bestA = a; bestB = b; bestC = c
          }
        }
        out += ((r, bestA, bestB, bestC))
        val a0 = bestA; val b0 = bestB
        java.util.stream.IntStream.range(0, syms.length).parallel().forEach { i =>
          // cheap containment pre-check before the allocating merge sweep
          val w = syms(i)
          var j = 0; var hit = false
          while (!hit && j < w.length - 1) {
            if (w(j) == a0 && w(j + 1) == b0) hit = true
            j += 1
          }
          if (hit) syms(i) = applyMerge(w.toSeq, a0, b0).toArray
        }
        r += 1
      }
    }
    out.toList
  }
}
