package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.NumFns.round6
import graft.functions.TextFns._

/** Text-analysis operators over `documents`: language-ID heuristic,
  * quality scoring, token counting, document fingerprinting. All pure
  * column expressions (codegen'd), one scan each, no shuffle except the
  * final presentation sort.
  */
object TextQueries {

  private val langs: Seq[(String, Seq[String])] =
    Seq("en" -> StopEn, "de" -> StopDe, "es" -> StopEs, "fr" -> StopFr)

  /** Session-scoped memo of the TRAINED text models and their shared
    * corpus aggregates (the DedupQueries.memo idiom). Two families:
    * (1) the char-bigram (doc_id, g, n) counts that t14 and t21 both
    * derive their model AND their per-doc scores from — one corpus
    * generate+aggregate instead of two; (2) the BPE tokenizer, whose
    * 8-round training (one corpus word-count aggregate + 8
    * vocabulary-sized argmax/merge rounds) was previously re-run by
    * every consumer (t15 train, t16 vocab, t17 doc tokens, t24 via
    * t17) — four identical trainings per sweep. Training once and
    * serving the learned merges from the memo is the production
    * tokenizer lifecycle (train → freeze → apply), the same
    * build-once shape the persisted ANN index (s23+) pins. The
    * persisted frames are vocabulary/bigram-alphabet bounded —
    * never corpus-scale.
    */
  private[queries] val memo = Memo.frames()

  /** Learned merge table rows (rank, l, r, pair_count) — driver-side
    * (8 rows); memoized separately from the frames because the learn
    * loop's cost is its per-round collects, not a materialization.
    */
  private[queries] val bpeMemo = Memo[Seq[(Long, String, String, Long)]]()

  /** The (doc_id, bigram, n) corpus frame t14 and t21 share — built by
    * the native one-pass expression (CharBigramsExpr): per doc the
    * counts fold inside the projection, so this build is SHUFFLE-FREE
    * (the earlier zip_with/explode/HashAggregate chain allocated one
    * string per char + one per position, then shuffled the collapsed
    * counts — CharBigramsSpec pins the two forms row-identical).
    */
  private[queries] def bigramCounts(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "bigram_counts") {
      // widened (Tables.widenIfNarrow): the one-pass byte parse otherwise
      // runs on the test file's single parquet split — one core for the
      // whole corpus — and the memoized frame inherits that 1 partition,
      // serializing every consumer aggregate. Identity at scale (r13).
      Tables.widenIfNarrow(s, Tables(s, dir, "documents"))
        .select(col("doc_id"),
          explode(call_function("graft_char_bigrams", col("text"))).as("bg"))
        .select(col("doc_id"), col("bg.g").as("g"), col("bg.n").as("n"))
    }

  /** The one corpus-sized word-count aggregate BPE trains on. */
  private[queries] def bpeWordCounts(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "bpe_word_counts") {
      // widened: the word-split explode runs pre-exchange — on the test
      // file's single split it was one task over the corpus (r13)
      graft.ops.BpeLearn.wordCounts(
        Tables.widenIfNarrow(s, Tables(s, dir, "documents")), "text")
    }

  /** The trained tokenizer: learn once per (session, dir), serve the
    * 8 learned merges to every consumer. Deterministic (exact integer
    * pair counts, lexicographic tie-break), so train-once ≡ the old
    * train-per-consumer results bit-for-bit.
    */
  private[queries] def bpeMerges(s: SparkSession, dir: String): Seq[(Long, String, String, Long)] =
    bpeMemo(s, dir, "bpe_merges") {
      graft.ops.BpeLearn.learnMerges(bpeWordCounts(s, dir), BpeRounds)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4))).toSeq
    }

  /** t17's corpus tokenization, parameterized by the merge table — ONE
    * implementation serving both lifecycles: t17 passes the in-memory
    * trained merges, t28 passes the merges re-read from the shipped
    * artifact. Scale shape (unchanged): tokenization runs once per
    * DISTINCT word (the vocabulary-sized applyMerges frame, broadcast
    * back); the corpus pays one (doc, word) aggregate and one broadcast
    * join, never a per-token string replay.
    */
  private def docTokensWith(s: SparkSession, dir: String,
      merges: Seq[(String, String)]): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val words = bpeWordCounts(s, dir)
    val pieces = graft.ops.BpeLearn.applyMerges(words, merges)
      .select(col("word"), size(col("pieces")).cast(LongType).as("n_pieces"))
    val docWords = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("k"))
    docWords.join(broadcast(pieces), "word")
      .groupBy("doc_id")
      .agg(sum(col("k")).as("ws_tokens"),
        sum(col("k") * col("n_pieces")).as("bpe_tokens"))
      .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"),
        round6(col("bpe_tokens").cast(DoubleType) /
          col("ws_tokens").cast(DoubleType)).as("pieces_per_word"))
    // UNSORTED by design: t17 sorts the returned frame directly, while
    // t28 checkpoints it first and sorts the checkpoint — sorting here
    // would make t28 pay the corpus sort twice
  }

  /** Unpersist and drop every memoized frame/model for (session, dir). */
  def evict(s: SparkSession, dir: String): Unit = prelude.evict(s, dir)

  /** t00: the bigram-count frame (t14/t21), the trained BPE
    * (t15/t16/t17/t24/t28) and the trigram counts of the trained
    * language-ID family (t23/t26/t27/t29). bpe_merges trains on the
    * already-memoized word counts, so its part times the 8 learn rounds
    * alone.
    */
  val prelude: Prelude = Prelude("t00_text_prelude",
    Set("t14_bigram_typicality", "t15_bpe_merges", "t16_bpe_vocab",
      "t17_bpe_doc_tokens", "t21_bigram_lm", "t24_fertility",
      "t28_bpe_serve",
      "t23_trigram_langid", "t26_langid_persisted", "t27_langid_append",
      "t29_langid_compacted"), Seq(memo, bpeMemo),
    (s, dir) => Seq(
      "bigram_counts" -> (() => { bigramCounts(s, dir); () }),
      "bpe_word_counts" -> (() => { bpeWordCounts(s, dir); () }),
      "bpe_merges" -> (() => { bpeMerges(s, dir); () }),
      "trigram_counts" -> (() => { trigramCounts(s, dir); () })))

  private val NbLangs = Seq("de", "en", "es", "fr", "zh")

  /** Trained trigram naive-Bayes pieces, shared by t23 (in-memory
    * serve) and t26 (persisted-artifact serve): the per-trigram
    * Laplace-smoothed micro-nat log-prob table `model` (g, w_<lang>
    * LONGS — vocabulary-bounded), the 1-row unseen-trigram `defaults`
    * (d_<lang>), and the held-out split's per-doc gram counts `ev`.
    * Micro-nat integer folds make the model engine-exact (the t21
    * rule) AND parquet-round-trip bit-exact — the property t26's
    * from-disk ≡ in-memory proof banks on.
    */
  /** Per-doc trigram COUNTS (doc_id, lang, g, n) — the shared front of
    * the trained language-ID family (t23/t26/t27/t29), memoized in the
    * t00 prelude: the four rows each re-parsed the corpus through the
    * clean→split→zip_with²→explode chain before this frame existed.
    * Built by the native one-pass [[graft.expressions.CharTrigramsExpr]]
    * (the CharBigramsExpr lesson at n = 3): the per-doc aggregate folds
    * inside the projection, so the build is SHUFFLE-FREE — and every
    * downstream count is a SUM of these per-doc longs, bit-identical to
    * counting the exploded gram stream (CharTrigramsSpec pins the two
    * forms row-identical).
    */
  private[queries] def trigramCounts(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "trigram_counts") {
      // widened (Tables.widenIfNarrow): measured r13 — the single-split
      // scan ran the whole trigram parse AND every downstream consumer
      // aggregate (t23/t26/t27/t29 train + eval folds) as 1-task jobs;
      // one tiny one-time shuffle of the raw docs buys them all 8-way
      // parallelism. Identity at scale (thousands of splits).
      Tables.widenIfNarrow(s, Tables(s, dir, "documents"))
        .select(col("doc_id"), col("lang"),
          explode(call_function("graft_char_trigrams", col("text"))).as("tg"))
        .select(col("doc_id"), col("lang"),
          col("tg.g").as("g"), col("tg.n").as("n"))
    }

  /** The MERGEABLE training artifact: per-(lang, g) trigram counts over
    * a training slice. Integer counts are the associative half of the
    * model — shards sum exactly, which is what t27's append lifecycle
    * banks on (log-probs don't merge; counts do). Takes the memoized
    * per-doc count frame; summing the per-doc longs is bit-identical to
    * counting the exploded gram stream.
    */
  private def nbCounts(counts: DataFrame,
      slice: org.apache.spark.sql.Column): DataFrame =
    counts.filter(slice).groupBy("lang", "g").agg(sum("n").as("c"))

  /** Fold a (lang, g, c) count table into the servable model: the
    * pivoted per-trigram micro-nat log-prob table + the 1-row
    * unseen-trigram defaults (Laplace smoothing; integer micro-nats —
    * engine-exact and parquet-round-trip bit-exact).
    */
  private def nbFromCounts(train: DataFrame): (DataFrame, DataFrame) = {
    val L = NbLangs
    val cAggs = L.map(l => sum(when(col("lang") === l, col("c"))).as(s"c_$l"))
    val mw = train.groupBy("g").agg(cAggs.head, cAggs.tail: _*)
    val totals = train
      .agg(countDistinct(col("g")).as("v"),
        L.map(l => sum(when(col("lang") === l, col("c"))).as(s"ct_$l")): _*)
    def lpMicro(cCol: org.apache.spark.sql.Column, l: String) =
      floor(log((cCol + lit(1L)).cast(DoubleType) /
        (col(s"ct_$l") + col("v")).cast(DoubleType)) * lit(1000000.0) + lit(0.5))
        .cast(LongType)
    val model = mw.crossJoin(broadcast(totals))
      .select(col("g") +: L.map(l =>
        lpMicro(coalesce(col(s"c_$l"), lit(0L)), l).as(s"w_$l")): _*)
    val defaults = totals
      .select(L.map(l => lpMicro(lit(0L), l).as(s"d_$l")): _*)
    (model, defaults)
  }

  /** Held-out split's per-doc gram counts (the scoring input) — the
    * memoized frame IS per-doc counts, so this is a pure filter.
    */
  private def nbEval(counts: DataFrame): DataFrame =
    counts.filter(col("doc_id") % 5 === 0)

  private def trigramNb(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val counts = trigramCounts(s, dir)
    val train = nbCounts(counts, col("doc_id") % 5 =!= 0)
      .localCheckpoint() // model-sized; consumed by mw + totals
    val (model, defaults) = nbFromCounts(train)
    (model, defaults, nbEval(counts))
  }

  /** Score the held-out grams against a (model, defaults) pair —
    * broadcast joins (the model is a TRUE dim table) + one per-doc
    * integer-sum aggregate + the arg-max CASE fold — and report the
    * lang × pred confusion matrix. Works identically whether the model
    * frames are the in-memory build (t23) or re-read artifacts (t26).
    */
  private def nbScore(ev: DataFrame, model: DataFrame, defaults: DataFrame)
      : DataFrame = {
    val L = NbLangs
    val sAggs = L.map(l =>
      sum(col("n") * coalesce(col(s"w_$l"), col(s"d_$l"))).as(s"s_$l"))
    val scored = ev.join(broadcast(model), Seq("g"), "left")
      .crossJoin(broadcast(defaults))
      .groupBy("doc_id", "lang")
      .agg(sAggs.head, sAggs.tail: _*)
    val best = greatest(L.map(l => col(s"s_$l")): _*)
    val pred = L.init.foldRight(lit(L.last)) { (l, rest) =>
      when(col(s"s_$l") === best, l).otherwise(rest)
    }
    scored.withColumn("pred_lang", pred)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Language-ID: stopword-hit argmax with fixed precedence (en > de >
    // es > fr > unknown on all-zero).
    "t01_langid" -> { (s, dir) =>
      val toks = tokens(col("text"))
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id") +: langs.map { case (l, ws) =>
          stopwordHits(toks, ws).cast(LongType).as(s"s_$l")
        }: _*)
      val best = greatest(langs.map(l => col(s"s_${l._1}")): _*)
      val pred = when(best === 0, "unknown")
        .when(col("s_en") === best, "en")
        .when(col("s_de") === best, "de")
        .when(col("s_es") === best, "es")
        .otherwise("fr")
      scored.withColumn("pred_lang", pred).orderBy("doc_id")
    },

    // Quality scoring: length/word/stopword-ratio features into a bounded
    // score. Pure double arithmetic — bit-identical to the oracle.
    "t02_quality" -> { (s, dir) =>
      val toks = tokens(col("text"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast(LongType).as("chars"),
          size(toks).cast(LongType).as("words"),
          (length(regexp_replace(col("text"), " ", "")).cast(DoubleType) /
            size(toks)).as("avg_word_len"),
          (stopwordHits(toks, StopEn).cast(DoubleType) / size(toks)).as("stop_ratio"))
        .withColumn("quality",
          round6(lit(0.5) * least(col("words") / 100.0, lit(1.0)) +
            lit(0.3) * least(col("avg_word_len") / 8.0, lit(1.0)) +
            lit(0.2) * col("stop_ratio")))
        .withColumn("avg_word_len", round6(col("avg_word_len")))
        .withColumn("stop_ratio", round6(col("stop_ratio")))
        .orderBy("doc_id")
    },

    // Readability scoring — Flesch reading ease from three regex
    // counts (words, sentence-ending punctuation runs, vowel-group
    // syllables: the standard no-dictionary heuristic), plus the
    // conventional level bucket CASE'd on the ROUNDED score so a
    // borderline document cannot land in different buckets across
    // engines. The curation use: a grade-level prior for curriculum
    // ordering / audience filtering, one more cheap scalar gate beside
    // t02's quality score. Map-only scan (codegen'd regex counts);
    // floats appear only in the final scalar formula over exact longs,
    // evaluated in one fixed association order on both engines.
    "t19_readability" -> { (s, dir) =>
      val words = size(tokens(col("text"))).cast(LongType)
      val sents = greatest(
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast(LongType),
        lit(1L))
      val syll = greatest(
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))).cast(LongType),
        lit(1L))
      Tables(s, dir, "documents")
        .select(col("doc_id"), words.as("words"), sents.as("sentences"),
          syll.as("syllables"))
        .withColumn("flesch", round6(lit(206.835)
          - lit(1.015) * (col("words").cast(DoubleType) / col("sentences"))
          - lit(84.6) * (col("syllables").cast(DoubleType) / col("words"))))
        .withColumn("level",
          when(col("flesch") >= 90, "very_easy")
            .when(col("flesch") >= 60, "standard")
            .when(col("flesch") >= 30, "difficult")
            .otherwise("very_confusing"))
        .orderBy("doc_id")
    },

    // Token counting: whitespace tokens + BPE-ish regex tokens
    // (letter-runs | digit-runs | single punctuation).
    "t03_tokens" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
            .cast(LongType).as("re_tokens"))
        .orderBy("doc_id")
    },

    // Document fingerprint: sequential rolling polynomial hash over the
    // full text and over the first 64 chars.
    "t04_fingerprint" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          fingerprint(col("text")).as("fp_full"),
          fingerprint(substring(col("text"), 1, 64)).as("fp_head"))
        .orderBy("doc_id")
    },

    // Repetition signals (the Gopher/Dolma quality-filter family): per
    // document, the fraction of 2-gram occurrences that are repeats
    // (1 - distinct/total), the fraction claimed by the single most
    // frequent 2-gram, and the same repeat fraction for 3-grams. Scale
    // shape: 2- and 3-grams are tagged and exploded TOGETHER, so the
    // whole query is ONE (doc_id, n, gram) shuffle chain — no per-doc
    // join-back, no second scan; (doc_id, gram) keys are high-cardinality
    // and skew-free by construction.
    // r13 rewrite (guide §2.4, remove shuffles outright): the stats are
    // all PER-DOC, so the former explode → (doc, n, g) aggregate →
    // doc aggregate chain shuffled corpus × n-gram rows twice for
    // quantities computable inside one projection. Distinct counts come
    // from array_distinct; the max bigram multiplicity is the longest
    // equal-run of the SORTED bigram array (one sequential fold —
    // identical integer to the old max(count)). Map-only up to the
    // presentation sort; values bit-identical (same integer counts,
    // same divisions), row set identical (a doc appears iff it has ≥ 1
    // bigram — explode dropped gram-less docs, the filter keeps parity).
    "t06_repetition" -> { (s, dir) =>
      val toks = tokens(col("text"))
      def overTotal(c: org.apache.spark.sql.Column) = round6(c)
      // longest equal-run in a sorted string array: fold carrying
      // (prev, current run, best run)
      def maxRun(sorted: org.apache.spark.sql.Column) = aggregate(
        sorted,
        struct(lit(null).cast(StringType).as("prev"), lit(0L).as("run"),
          lit(0L).as("best")),
        (acc, x) => {
          val run = when(acc("prev").isNotNull && x === acc("prev"),
            acc("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc("best"), run).as("best"))
        },
        acc => acc("best"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), grams2(toks).as("g2"), grams3(toks).as("g3"))
        .filter(size(col("g2")) > 0)
        .select(col("doc_id"),
          size(col("g2")).cast(LongType).as("total2"),
          size(array_distinct(col("g2"))).cast(LongType).as("dist2"),
          maxRun(array_sort(col("g2"))).as("top2"),
          size(col("g3")).cast(LongType).as("total3"),
          size(array_distinct(col("g3"))).cast(LongType).as("dist3"))
        .select(col("doc_id"), col("total2"),
          overTotal((col("total2") - col("dist2")).cast(DoubleType) / col("total2")).as("dup2_frac"),
          overTotal(col("top2").cast(DoubleType) / col("total2")).as("top2_frac"),
          overTotal(when(col("total3") > 0,
            (col("total3") - col("dist3")).cast(DoubleType) / col("total3"))).as("dup3_frac"))
        .orderBy("doc_id")
    },

    // Vocabulary coverage: the tokenizer-prep question "how many terms
    // cover X% of the corpus" — term frequencies, Zipf-ordered, with a
    // running coverage fraction; top 100 terms emitted. Scale shape: the
    // (term) aggregate is the only corpus-sized shuffle; the running sum
    // windows over the VOCABULARY (small by Zipf), and only after a
    // count(*)-style reduction — an unpartitioned window over vocab rows,
    // not corpus rows, is the documented single-task step.
    "t07_vocab" -> { (s, dir) =>
      val tf = Tables(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      val wCum = org.apache.spark.sql.expressions.Window.partitionBy()
        .orderBy(desc("n"), col("term"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      tf.withColumn("total", sum(col("n")).over(wAll))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy().orderBy(desc("n"), col("term"))).cast(IntegerType))
        .withColumn("coverage", round6(sum(col("n")).over(wCum).cast(DoubleType) / col("total")))
        .filter(col("rank") <= 100)
        .select(col("rank"), col("term"), col("n"), col("coverage"))
        .orderBy("rank")
    },

    // Language-ID EVALUATION: the t01 heuristic scored against the
    // table's ground-truth `lang` column as a confusion matrix — the
    // "how good is the classifier we filter with" step every language-
    // filtered corpus needs before trusting the filter. One scan + one
    // tiny (actual, predicted) aggregate. (zh has no stopword list, so
    // its row shows where mass falls under an unsupported language.)
    "t11_lang_confusion" -> { (s, dir) =>
      val toks = tokens(col("text"))
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id") +: col("lang") +: langs.map { case (l, ws) =>
          stopwordHits(toks, ws).cast(LongType).as(s"s_$l")
        }: _*)
      val best = greatest(langs.map(l => col(s"s_${l._1}")): _*)
      val pred = when(best === 0, "unknown")
        .when(col("s_en") === best, "en")
        .when(col("s_de") === best, "de")
        .when(col("s_es") === best, "es")
        .otherwise("fr")
      scored.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "pred_lang")
    },

    // Hashed LINEAR QUALITY CLASSIFIER — the fastText-shaped filter
    // (hashing-trick bag-of-words -> linear score -> keep/drop) that
    // corpus pipelines run after the heuristic gates: bucket =
    // h60(token) % 64, weight = integer in [-500, 500] derived from
    // h60('w' || bucket) (a REAL deployment broadcasts trained weights;
    // the derived table stands in so both engines share it without a
    // side file — same stance as the PII lexicon). The whole score is
    // one `aggregate` HOF fold per row — integer arithmetic end to end
    // (exact on both engines; score = raw/(1000*n) only at output) and
    // ZERO shuffles: unlike the explode+groupBy shape, at 100 TB this
    // classifies at parquet-scan speed inside the same stage as the
    // reading filter.
    "t12_hash_classifier" -> { (s, dir) =>
      val t = tokens(col("text"))
      val raw = aggregate(t, lit(0L), (acc, x) =>
        acc + (h60(concat(lit("w"), (h60(x) % 64).cast(StringType))) % 1001L - 500L))
      Tables(s, dir, "documents")
        .select(col("doc_id"), size(t).cast(LongType).as("n_tokens"), raw.as("raw"))
        .select(col("doc_id"), col("n_tokens"), col("raw"),
          round6(col("raw").cast(DoubleType) / (col("n_tokens") * 1000.0)).as("score"),
          when(col("raw") > 0, "keep").otherwise("drop").as("verdict"))
        .orderBy("doc_id")
    },

    // Classifier EVALUATION — t12's learned-filter verdicts scored
    // against the t02 heuristic gate (quality >= 0.5) as a 2x2
    // confusion matrix: the "does the cheap classifier agree with the
    // expensive heuristic" calibration step run before swapping one
    // for the other in a filtering pipeline (the t11 pattern applied
    // to quality filtering). Both inputs are already-pinned queries,
    // so the row also pins their composition. One corpus-keyed join +
    // a 4-row aggregate.
    "t13_classifier_eval" -> { (s, dir) =>
      val gate = queries("t02_quality")(s, dir)
        .select(col("doc_id"),
          when(col("quality") >= 0.5, "good").otherwise("poor").as("heuristic"))
      val pred = queries("t12_hash_classifier")(s, dir)
        .select(col("doc_id"), col("verdict"))
      gate.join(pred, "doc_id")
        .groupBy("heuristic", "verdict")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("heuristic", "verdict")
    },

    // Char-BIGRAM TYPICALITY — a gibberish/perplexity proxy with no
    // model download: build the corpus's own character-bigram count
    // table (the "language model"), then score each doc by the average
    // corpus count of its bigrams. Prose lands high (its transitions
    // are everyone's transitions); mojibake, base64 blobs, and
    // keyboard-mash land low — the cheap first-pass filter before an
    // actual LM perplexity gate. All-integer sums keep the score exact
    // cross-engine (a log-prob variant would hash-mismatch on IEEE
    // ULPs). Scale shape: the model aggregate partial-combines to
    // <= 27^2 rows per partition (tiny), rides back as a BROADCAST
    // join onto a second bigram scan, and the per-doc sum is one
    // doc-keyed shuffle — no corpus-sized join ever.
    "t14_bigram_typicality" -> { (s, dir) =>
      // the char-bigram stream is generated ONCE, from a per-row array,
      // so the generate emits bare (doc_id, g) pairs — an earlier form
      // exploded an index column and cut substrings AFTER the generate,
      // so every exploded row carried the full document string, and it
      // did that twice (model + score side): 11 s at sf0.1 of pure
      // memory bandwidth. The (doc_id, g) aggregate collapses
      // occurrences map-side before any exchange and is MEMOIZED
      // (bigramCounts) — t21 derives its smoothed LM from the same
      // frame, so the corpus generate runs once per (session, dir),
      // not once per consumer. The <= 27²-row model derives from those
      // counts, and the score join multiplies counts instead of
      // probing one broadcast row per occurrence.
      val gcounts = bigramCounts(s, dir)
      val model = gcounts.groupBy("g").agg(sum(col("n")).as("cnt"))
      gcounts.join(broadcast(model), "g")
        .groupBy("doc_id")
        .agg(sum(col("n")).as("n_bigrams"),
          sum(col("n") * col("cnt")).as("familiarity"))
        .select(col("doc_id"), col("n_bigrams"), col("familiarity"),
          round6(col("familiarity").cast(DoubleType) /
            col("n_bigrams").cast(DoubleType)).as("avg_count"))
        .orderBy("doc_id")
    },

    // Distributed BPE tokenizer TRAINING (ops.BpeLearn, Sennrich
    // merges) as an oracle row: one corpus-sized word-count aggregate,
    // then 8 learn rounds over the VOCABULARY only (pair stats → argmax
    // → string-replace merge application, localCheckpoint per round).
    // The segmentation-as-string trick makes greedy merge application a
    // literal `replace`, identical in both engines, so the whole
    // training loop hash-matches a generated 8-layer oracle.
    "t15_bpe_merges" -> { (s, dir) =>
      // serve the memoized trained model (learn-once lifecycle); the
      // 8 merge rows rebuild driver-side with the exact schema and
      // values learnMerges emits (rank, l, r, merged = concat, count)
      import s.implicits._
      bpeMerges(s, dir).toDF("rank", "l", "r", "pair_count")
        .select(col("rank"), col("l"), col("r"),
          concat(col("l"), col("r")).as("merged"), col("pair_count"))
        .orderBy("rank")
    },

    // The trained tokenizer APPLIED: replay t15's 8 merges over the
    // vocabulary (ops.BpeLearn.applyMerges — same replace semantics as
    // training) and emit the top-50 subword pieces by corpus-weighted
    // occurrence count: the piece-frequency table a tokenizer ships
    // with. Vocabulary-sized throughout after the one word-count
    // aggregate.
    // PERSISTED TOKENIZER LIFECYCLE — s23's build→write→serve flow
    // applied to the text pillar's trained model: the BPE merge table
    // (trained once, the t00 memo) is WRITTEN via io.Writers as the
    // artifact a tokenizer actually ships, and the vocabulary is then
    // tokenized from the RE-READ merges only. Oracle = t16's pinned
    // SQL unchanged, so a green row proves model-from-disk ≡
    // model-in-memory (strings and longs round-trip parquet exactly;
    // rank order restores the greedy application order). At 100 TB the
    // model is a KB-sized artifact trained once and broadcast to every
    // tokenize job — the amortize argument the persisted ANN rows pin,
    // applied to the tokenizer. Runs eagerly (write → re-read →
    // checkpoint) with the artifact dir finally-reclaimed, the
    // s23/d14 side-effectful pattern.
    "t25_bpe_persisted" -> { (s, dir) =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("t25_bpe").toString
      val out = try {
        graft.io.Writers.parquet(
          bpeMerges(s, dir).toDF("rank", "l", "r", "pair_count"), s"$tmp/merges")
        val reread = s.read.parquet(s"$tmp/merges")
          .orderBy("rank").collect()
          .map(r => (r.getAs[String]("l"), r.getAs[String]("r"))).toSeq
        graft.ops.BpeLearn.applyMerges(bpeWordCounts(s, dir), reread)
          .select(col("cnt"), explode(col("pieces")).as("piece"))
          .groupBy("piece").agg(sum(col("cnt")).as("n"))
          .orderBy(desc("n"), col("piece")).limit(50)
          .localCheckpoint()
      } finally {
        val p = new org.apache.hadoop.fs.Path(tmp)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
        ()
      }
      out.orderBy(desc("n"), col("piece"))
    },

    "t16_bpe_vocab" -> { (s, dir) =>
      val words = bpeWordCounts(s, dir)
      val merges = bpeMerges(s, dir).map(m => (m._2, m._3))
      graft.ops.BpeLearn.applyMerges(words, merges)
        .select(col("cnt"), explode(col("pieces")).as("piece"))
        .groupBy("piece").agg(sum(col("cnt")).as("n"))
        .orderBy(desc("n"), col("piece")).limit(50)
    },

    // The trained tokenizer APPLIED to the corpus — per-document token
    // counts under the learned BPE (t15 trains, t16 profiles the
    // vocabulary; this is the number a training-data pipeline actually
    // bills by). Scale shape: tokenization happens once per DISTINCT
    // word (the vocabulary-sized applyMerges frame, broadcast back),
    // never per occurrence — the corpus pays one (doc, word) aggregate
    // and one broadcast join, not a per-token string replay.
    "t17_bpe_doc_tokens" -> { (s, dir) =>
      docTokensWith(s, dir, bpeMerges(s, dir).map(m => (m._2, m._3)))
        .orderBy("doc_id")
    },

    // BPE APPLY-FROM-ARTIFACT — the serve half of the tokenizer
    // lifecycle (VERDICT r11 #3): t25 ships the trained merge table to
    // disk and tokenizes the VOCABULARY from it; this row tokenizes the
    // CORPUS from the re-read artifact — the job a production pipeline
    // actually runs (train once, write the tokenizer, every later
    // billing/packing job loads it and tokenizes its own shard; the
    // language-ID family's t26/t27 symmetry applied to BPE). Merges are
    // re-read ORDERED BY RANK — the artifact column that restores the
    // greedy application order applyMerges depends on; strings and longs
    // round-trip parquet exactly, so the from-disk merge table is the
    // in-memory one. Oracle = t17's pinned SQL unchanged: a green row
    // proves tokenizer-from-disk ≡ tokenizer-in-memory over the corpus.
    // At 100 TB the artifact is KB-sized, broadcast to every tokenize
    // job; the corpus still pays t17's one (doc, word) aggregate + one
    // broadcast join — the serve adds only the artifact read.
    "t28_bpe_serve" -> { (s, dir) =>
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("t28_bpe").toString
      val out = try {
        graft.io.Writers.parquet(
          bpeMerges(s, dir).toDF("rank", "l", "r", "pair_count"),
          s"$tmp/merges")
        val reread = s.read.parquet(s"$tmp/merges")
          .orderBy("rank").collect()
          .map(r => (r.getAs[String]("l"), r.getAs[String]("r"))).toSeq
        docTokensWith(s, dir, reread).localCheckpoint()
      } finally {
        val p = new org.apache.hadoop.fs.Path(tmp)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
        ()
      }
      out.orderBy("doc_id")
    },

    // TOKENIZER FERTILITY — the published tokenizer-fit report (the
    // "fertility" table in multilingual-LM papers): per language,
    // BPE pieces per whitespace word and chars per BPE token, from the
    // SAME trained tokenizer t17 pins. High fertility = the vocabulary
    // under-serves that language (its words fragment), the number that
    // drives vocab-size and data-mix decisions — a language whose
    // fertility is 2× pays 2× the context window for the same text.
    // Composes the pinned t17 row (anti-drift) + a doc-meta join; all
    // corpus-sized sums are exact longs, the two ratios divide once
    // per output row.
    "t24_fertility" -> { (s, dir) =>
      val per = queries("t17_bpe_doc_tokens")(s, dir)
        .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"))
      val meta = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast(LongType).as("chars"))
      per.join(meta, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"), sum(col("chars")).as("chars"),
          sum(col("ws_tokens")).as("ws_tokens"),
          sum(col("bpe_tokens")).as("bpe_tokens"))
        .select(col("lang"), col("docs"), col("chars"), col("ws_tokens"),
          col("bpe_tokens"),
          round6(col("bpe_tokens").cast(DoubleType) /
            col("ws_tokens").cast(DoubleType)).as("fertility"),
          round6(col("chars").cast(DoubleType) /
            col("bpe_tokens").cast(DoubleType)).as("chars_per_token"))
        .orderBy("lang")
    },

    // PMI collocations — pointwise mutual information over corpus word
    // bigrams, the standard collocation detector ("new york" scores
    // high because its joint count beats the unigram-independence
    // prediction): pmi = ln( P(xy) / (P(x)·P(y)) ) with all
    // probabilities from exact integer counts; n_xy >= 5 is the usual
    // sparse-count guard. The published ordering key is the ROUNDED
    // pmi (plus the word pair), so both engines sort identical values.
    // Scale shape: one (w1, w2) bigram aggregate + one unigram
    // aggregate off the same scan; unigram counts broadcast back onto
    // the vocabulary-sized bigram matrix; corpus totals are two 1-row
    // broadcast frames. No window, no self-join.
    "t18_pmi_collocations" -> { (s, dir) =>
      val toks = Tables(s, dir, "documents").select(tokens(col("text")).as("t"))
      val n1 = greatest(size(col("t")) - 1, lit(0))
      val bi = toks.select(explode(zip_with(
          slice(col("t"), lit(1), n1), slice(col("t"), lit(2), n1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n_xy"))
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("nw"))
      val nTok = uni.agg(sum(col("nw")).as("n_tok"))
      val nBig = bi.agg(sum(col("n_xy")).as("n_big"))
      bi.filter(col("n_xy") >= 5)
        .join(broadcast(uni.select(col("w").as("w1"), col("nw").as("n_x"))), "w1")
        .join(broadcast(uni.select(col("w").as("w2"), col("nw").as("n_y"))), "w2")
        .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
        .select(col("w1"), col("w2"), col("n_xy"), col("n_x"), col("n_y"),
          round6(log(
            (col("n_xy").cast(DoubleType) / col("n_big").cast(DoubleType)) /
              ((col("n_x").cast(DoubleType) / col("n_tok").cast(DoubleType)) *
                (col("n_y").cast(DoubleType) / col("n_tok").cast(DoubleType)))))
            .as("pmi"))
        .orderBy(desc("pmi"), col("w1"), col("w2"))
        .limit(20)
    },

    // Text NORMALIZATION — the canonical pre-dedup cleanup pass (CCNet
    // shape): lowercase, strip non-alphanumerics, collapse whitespace.
    // Pure codegen'd regex expressions at scan speed, no shuffle; at
    // 100 TB this fuses into the same scan as the hashing that follows
    // it. (DuckDB regexp_replace needs the 'g' flag to match Spark's
    // replace-all.)
    "t10_normalize" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(trim(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " ")),
            " +", " ").as("norm"))
        .withColumn("norm_chars", length(col("norm")).cast(LongType))
        .orderBy("doc_id")
    },

    // COUNT-MIN sketch heavy hitters: estimated frequencies for the
    // top-20 terms from a d=4 x w=256 counter grid instead of the full
    // vocabulary. CMS is the frequency sketch whose merge is counter-wise
    // ADDITION — commutative and order-independent — so unlike HLL
    // registers the whole sketch, and therefore the ESTIMATE, is
    // deterministic and oracle-checkable: DuckDB fills the same grid
    // with the same (A_k*h + B_k) % P % w hashes and takes the same min
    // over rows. est >= n always (CMS never undercounts); the
    // overcount column makes the collision error visible. Scale shape:
    // one corpus (term) shuffle, then everything is vocabulary-sized;
    // at 100 TB the d x w grid (4 KB here) replaces a
    // vocabulary-sized exact map wherever an overestimate bound is
    // acceptable.
    "t09_countmin" -> { (s, dir) =>
      val W = 256
      val D = 4
      val tf = Tables(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
        .withColumn("hm", h60(col("term")) % lit(MinhashP))
      val tagged = tf.select(col("term"), col("n"),
          explode(array((0 until D).map(i =>
            struct(lit(i).as("i"),
              (((lit(MinhashA(i)) * col("hm") + lit(MinhashB(i))) % lit(MinhashP))
                % W).as("b"))): _*)).as("ib"))
        .select(col("term"), col("n"), col("ib.i").as("i"), col("ib.b").as("b"))
      val counters = tagged.groupBy("i", "b").agg(sum("n").as("c"))
      tagged.join(counters, Seq("i", "b"))
        .groupBy("term").agg(max("n").as("n"), min("c").as("est"))
        .orderBy(desc("n"), col("term")).limit(20)
        .select(col("term"), col("n"), col("est"),
          (col("est") - col("n")).as("overcount"))
        .orderBy(desc("n"), col("term"))
    },

    // Character-entropy quality signal — Shannon entropy (bits/char)
    // of each document over the fixed 27-class alphabet (space + a-z):
    // the gibberish/compressibility screen beside t14's bigram
    // typicality (low entropy = repetitive/degenerate text, high =
    // keyboard mash; natural English sits ~4 bits). Determinism recipe:
    // per-class counts are exact integers (length minus length-after-
    // strip — no tokenize, no explode), the 27 p·ln(1/p) terms are
    // IDENTICAL expressions added in FIXED literal order (the t08
    // pivot-order rule), and ln matches across engines (the t05/t08
    // precedent); zero-count classes contribute an exact 0. Map-only
    // plan at scan speed — the corpus never shuffles.
    "t20_entropy" -> { (s, dir) =>
      val alphabet = ' ' +: ('a' to 'z')
      val lenD = length(col("text")).cast(DoubleType)
      val cnts = alphabet.map { ch =>
        (length(col("text")) -
          length(regexp_replace(col("text"), ch.toString, ""))).cast(LongType)
      }
      val terms = cnts.map { c =>
        when(c > 0, (c.cast(DoubleType) / lenD) * log(lenD / c.cast(DoubleType)))
          .otherwise(lit(0.0))
      }
      val nDistinct = cnts.map(c => when(c > 0, 1L).otherwise(0L)).reduce(_ + _)
      Tables(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast(LongType).as("chars"),
          nDistinct.cast(LongType).as("alphabet_size"),
          round6(terms.reduce(_ + _) / log(lit(2.0))).as("entropy_bits"))
        .orderBy("doc_id")
    },

    // Char-bigram LANGUAGE-MODEL log-probability — the "real LM gate"
    // t14's integer typicality stands in for (the CCNet/Gopher-style
    // perplexity filter): train a Laplace-smoothed bigram model on the
    // corpus itself (P(y|x) = (c_xy+1)/(c_x+27) over the cleaned
    // 27-char alphabet), score each doc by its average log-probability
    // per transition. Well-modeled prose scores high (close to 0);
    // mojibake/base64 score far negative. Determinism: the model has
    // ≤ 27² rows, so each bigram's log-prob is computed ONCE, rounded
    // to integer MICRO-NATS (floor(ln·1e6 + 0.5) as a long), and the
    // per-doc score is an exact integer sum Σ n·lp_micro — aggregation
    // order can't flip IEEE low bits because no doubles are ever summed
    // (t14's lesson applied to the log domain; ln itself is the t20/t08
    // cross-engine precedent). Scale shape: identical to t14 — one
    // corpus bigram aggregate that partial-combines to ≤ 27² rows per
    // partition, the model rides back as a BROADCAST join onto the
    // per-doc bigram counts, one doc-keyed shuffle, no corpus-sized
    // join.
    "t21_bigram_lm" -> { (s, dir) =>
      // the memoized t14 bigram-count frame — one corpus generate
      // serves both the familiarity score and this smoothed LM
      val gcounts = bigramCounts(s, dir)
      val model = gcounts.groupBy("g").agg(sum(col("n")).as("cnt"))
      val cx = model.groupBy(substring(col("g"), 1, 1).as("x"))
        .agg(sum(col("cnt")).as("cx"))
      val lp = model.withColumn("x", substring(col("g"), 1, 1))
        .join(broadcast(cx), "x")
        .select(col("g"),
          floor(log((col("cnt") + lit(1L)).cast(DoubleType) /
            (col("cx") + lit(27L)).cast(DoubleType)) * lit(1000000.0) + lit(0.5))
            .cast(LongType).as("lp_micro"))
      gcounts.join(broadcast(lp), "g")
        .groupBy("doc_id")
        .agg(sum(col("n")).as("n_bigrams"),
          sum(col("n") * col("lp_micro")).as("ll_micro"))
        .select(col("doc_id"), col("n_bigrams"), col("ll_micro"),
          round6((col("ll_micro").cast(DoubleType) / lit(1000000.0)) /
            col("n_bigrams").cast(DoubleType)).as("avg_ll"))
        .orderBy("doc_id")
    },

    // Per-source DISTRIBUTION DRIFT — KL(source ‖ corpus) over word
    // unigrams: the curation diagnostic that ranks sources by how far
    // their token distribution sits from the corpus mix (a source
    // whose distribution diverges is the one to re-weight, re-clean,
    // or quarantine; the distribution-level sibling of x30's row-level
    // fingerprint). KL = (1/T_s)·Σ_w c_s(w)·ln(c_s(w)·T / (T_s·c(w))).
    // Determinism: each word's log-ratio folds to integer MICRO-NATS
    // once (the t21 rule — the argument is a ratio of exact-long
    // products, identically associated in both engines), the per-source
    // sum Σ c_s·t_micro is an exact long, and the single division by
    // T_s happens once at the end. Scale shape: one (source, word)
    // aggregate; corpus word totals join back on the word key (equi
    // shuffle — vocabulary-sized, NOT broadcast: at web scale the
    // vocab doesn't fit a broadcast); source totals are a tiny
    // broadcast.
    "t22_source_kl" -> { (s, dir) =>
      val sw = Tables(s, dir, "documents")
        .select(col("source"), explode(tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("cs"))
        // |sources|×|vocab| rows, four consumers (cw/ts/tot/terms):
        // materialize once or each re-plans the corpus token explode
        // (measured 10 → 6 exchanges, one corpus pass instead of four)
        .localCheckpoint()
      val cw = sw.groupBy("w").agg(sum(col("cs")).as("c"))
      val ts = sw.groupBy("source").agg(sum(col("cs")).as("t_s"))
      val tot = ts.agg(sum(col("t_s")).as("t"))
      val terms = sw.join(cw, "w")
        .crossJoin(broadcast(tot))
        .join(broadcast(ts), "source")
        .select(col("source"), col("t_s"), (col("cs") *
          floor(log((col("cs").cast(DoubleType) * col("t").cast(DoubleType)) /
            (col("t_s").cast(DoubleType) * col("c").cast(DoubleType)))
            * lit(1000000.0) + lit(0.5)).cast(LongType)).as("cst"))
      terms.groupBy("source")
        .agg(max(col("t_s")).as("toks"), sum(col("cst")).as("kl_micro"))
        .select(col("source"), col("toks"), col("kl_micro"),
          round6((col("kl_micro").cast(DoubleType) / lit(1000000.0)) /
            col("toks").cast(DoubleType)).as("kl"))
        .orderBy("source")
    },

    // TRAINED language-ID — the supervised upgrade of t01's stopword
    // heuristic (fastText-style, reduced to its deterministic core): a
    // Laplace-smoothed char-TRIGRAM naive-Bayes model per language,
    // trained on the labeled 80% split (doc_id % 5 ≠ 0), scored on the
    // held-out 20%, reported as the lang × pred confusion matrix — the
    // number that says whether the classifier is good enough to label
    // the unlabeled web crawl. Determinism: the model is alphabet-
    // bounded (≤ 27³ trigrams × 5 langs), so each (lang, trigram)
    // log-prob ln((c+1)/(c_l+V)) folds to integer MICRO-NATS once on
    // the model frame; per-doc scores are exact long sums Σ n·lp and
    // the argmax breaks ties by language name — no doubles are ever
    // summed (the t21 rule). Unseen trigrams hit the same formula at
    // c = 0, so the miss path and the smoothing path are one
    // expression. Scale shape: one train-side (lang, g) aggregate that
    // partial-combines to the alphabet bound per partition, pivoted
    // model + 1-row totals ride back as BROADCASTS onto the eval-side
    // doc-gram counts (the trigram vocabulary is alphabet-bounded —
    // a TRUE broadcast dim at any corpus size, unlike t22's word
    // vocab), one doc-keyed score shuffle, one tiny confusion agg.
    "t23_trigram_langid" -> { (s, dir) =>
      val (model, defaults, ev) = trigramNb(s, dir)
      nbScore(ev, model, defaults).orderBy("lang", "pred_lang")
    },

    // PERSISTED trained language-ID model — the t25 lifecycle applied
    // to the classifier: the last trained artifact that still rebuilt
    // per scoring job. The SHIPPED model is exactly what a deployment
    // loads: the per-trigram micro-nat log-prob table (g, w_<lang>
    // longs — vocabulary-bounded, KB-sized) plus the 1-row
    // unseen-trigram defaults, written via io.Writers; the held-out
    // split is scored from the RE-READ artifacts only. Micro-nat LONGS
    // round-trip parquet bit-exactly, so the oracle is t23's confusion-
    // matrix SQL unchanged — a green row proves model-from-disk ≡
    // model-in-memory. At 100 TB training pays one corpus pass once;
    // every scoring job broadcasts the loaded model (a TRUE dim table).
    // Eager lifecycle (write → re-read → checkpoint), artifact dir
    // finally-reclaimed — the s23/t25 side-effectful pattern.
    "t26_langid_persisted" -> { (s, dir) =>
      val (model, defaults, ev) = trigramNb(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("t26_nb").toString
      val out = try {
        graft.io.Writers.parquet(model, s"$tmp/model")
        graft.io.Writers.parquet(defaults, s"$tmp/defaults")
        nbScore(ev, s.read.parquet(s"$tmp/model"),
            s.read.parquet(s"$tmp/defaults"))
          .localCheckpoint()
      } finally {
        val p = new org.apache.hadoop.fs.Path(tmp)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
        ()
      }
      out.orderBy("lang", "pred_lang")
    },

    // INCREMENTAL APPEND to the persisted language-ID model — s26's
    // index-maintenance lifecycle applied to the trained-text family
    // (VERDICT r10 #5): t25/t26 ship build-once artifacts; production
    // corpora grow by shards, and retraining from scratch per ingest is
    // the cost everyone avoids. The key design move: the SHIPPED
    // training artifact is the (lang, g, c) COUNT table, not the
    // log-prob table — integer counts are the associative half of the
    // model, so a new shard APPENDS as files (base never read or
    // rewritten) and serving folds the merged listing with one
    // model-sized sum before the same micro-nat projection.
    //   1. BUILD  — counts from the base shard (odd training docs);
    //   2. APPEND — the delta shard's counts land beside them
    //      (mode=append, the s26 contract);
    //   3. SERVE  — sum the merged listing per (lang, g) — longs merge
    //      exactly, so merged ≡ full-train counts — then nbFromCounts +
    //      nbScore, from the artifact only.
    // Oracle = t23's confusion-matrix SQL unchanged: a green row proves
    // append-maintained model ≡ retrained model. At 100 TB each ingest
    // pays O(shard); the artifact stays vocabulary-bounded and the
    // accumulating small files are Writers.compact's job.
    "t27_langid_append" -> { (s, dir) =>
      val counts = trigramCounts(s, dir)
      val trainSlice = col("doc_id") % 5 =!= 0
      val tmp = java.nio.file.Files.createTempDirectory("t27_nb").toString
      val out = try {
        graft.io.Writers.parquet(
          nbCounts(counts, trainSlice && col("doc_id") % 2 === 1),
          s"$tmp/counts")
        graft.io.Writers.parquet(
          nbCounts(counts, trainSlice && col("doc_id") % 2 === 0),
          s"$tmp/counts", mode = "append")
        val merged = s.read.parquet(s"$tmp/counts")
          .groupBy("lang", "g").agg(sum("c").as("c"))
          .localCheckpoint() // model-sized; consumed by mw + totals
        val (model, defaults) = nbFromCounts(merged)
        nbScore(nbEval(counts), model, defaults).localCheckpoint()
      } finally {
        val p = new org.apache.hadoop.fs.Path(tmp)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
        ()
      }
      out.orderBy("lang", "pred_lang")
    },

    // COMPACTION closing the TEXT maintenance loop — s29's lakehouse
    // OPTIMIZE step applied to the trained-model family, completing the
    // lifecycle matrix (ANN: build s23-s25/s28, append s26, compact
    // s29, online serve s27; text: build t25/t26, append t27, serve
    // t28, compact THIS row). t27's shards append as files to a FLAT
    // count-table artifact — no partition layout to preserve — so the
    // maintenance pass is the plain [[graft.io.Writers.compact]]: one
    // coalescing exchange rewrites the fragmented listing into a single
    // file, and the serve folds the compacted artifact with t27's
    // merged-sum → nbFromCounts → nbScore unchanged. Oracle = t23's
    // confusion-matrix SQL once more: a green row proves append →
    // compact → serve ≡ serve (compaction moves bytes, never values —
    // the (lang, g, c) LONGS round-trip parquet bit-exactly, and the
    // per-(lang, g) sum is order-insensitive, so even the row shuffle
    // inside the rewrite cannot move the model). PersistedIndexSpec
    // pins the mechanical half for flat compact (file count provably
    // shrinks, rows survive). At 100 TB the compact job is one exchange
    // over the VOCABULARY-bounded artifact — not the corpus — run at
    // append cadence off the serve path.
    "t29_langid_compacted" -> { (s, dir) =>
      val counts = trigramCounts(s, dir)
      val trainSlice = col("doc_id") % 5 =!= 0
      val tmp = java.nio.file.Files.createTempDirectory("t29_nb").toString
      val out = try {
        // 1-2. build + append — t27's fragmentation-accumulating steps
        graft.io.Writers.parquet(
          nbCounts(counts, trainSlice && col("doc_id") % 2 === 1),
          s"$tmp/counts")
        graft.io.Writers.parquet(
          nbCounts(counts, trainSlice && col("doc_id") % 2 === 0),
          s"$tmp/counts", mode = "append")
        // 3. MAINTENANCE: rewrite the fragmented count table into one
        //    file; production swaps the directory at the manifest
        //    level, here the serve just reads the new path
        graft.io.Writers.compact(
          s, s"$tmp/counts", s"$tmp/counts_compacted", targetFiles = 1)
        // 4. serve from the COMPACTED artifact — t27's serve unchanged
        val merged = s.read.parquet(s"$tmp/counts_compacted")
          .groupBy("lang", "g").agg(sum("c").as("c"))
          .localCheckpoint() // model-sized; consumed by mw + totals
        val (model, defaults) = nbFromCounts(merged)
        nbScore(nbEval(counts), model, defaults).localCheckpoint()
      } finally {
        val p = new org.apache.hadoop.fs.Path(tmp)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
        ()
      }
      out.orderBy("lang", "pred_lang")
    },

    // BM25 relevance scoring for a fixed query-term set — the retrieval
    // twin of t05's TF-IDF (k1 = 1.2, b = 0.75, idf = ln((N-df+.5)/(df+.5)+1)).
    // Scale shape: only rows matching the (tiny) query-term set survive
    // the scan filter, so the (doc, term) aggregate is query-sized, not
    // corpus-sized; df and the corpus stats (N, avgdl) are broadcast
    // scalars. Per-term scores are pivoted into FIXED columns and added
    // in literal order — a sum() over term rows would be
    // order-nondeterministic in IEEE doubles across engines.
    "t08_bm25" -> { (s, dir) =>
      val q = Seq("data", "query", "hash")
      val k1 = 1.2
      val b = 0.75
      val docs = Tables(s, dir, "documents")
      val dl = docs.select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("dl"))
      // corpus stats as driver-side scalars into the plan (one bounded
      // 1-row agg, the t05 nDocs precedent) — a crossJoin(stats) would
      // put a nested-loop join in the plan for two numbers. avgdl is
      // exact-long division in IEEE double, same op the oracle runs.
      val statsRow = dl.agg(count(lit(1)), sum(col("dl"))).head()
      val n = statsRow.getLong(0)
      val avgdl = statsRow.getLong(1).toDouble / n
      val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .filter(col("term").isin(q: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .withColumn("idf", log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
        .withColumn("sc", col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl))))
      val parts = q.map(t =>
        coalesce(max(when(col("term") === t, col("sc"))), lit(0.0)).as(s"s_$t"))
      scored.groupBy("doc_id")
        .agg(parts.head, parts.tail: _*)
        .select(col("doc_id"),
          round6(q.map(t => col(s"s_$t")).reduce(_ + _)).as("bm25"))
        .orderBy("doc_id")
    },

    // TF-IDF top-3 terms per document. Scale shape: term frequencies are
    // one shuffle on (doc, term); document frequencies aggregate the
    // VOCABULARY (small by Zipf) and broadcast back, so the scoring join
    // adds no fact-side shuffle; the final window partitions by doc_id —
    // high cardinality, no skew.
    "t05_tfidf" -> { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val nDocs = docs.count() // metadata-cheap count, scalar into the plan
      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(desc("tfidf"), col("term"))
      tf.join(broadcast(dfreq), "term")
        .select(col("doc_id"), col("term"),
          (col("tf") * log((lit(nDocs) + 1.0) / (col("df") + 1.0))).as("tfidf"))
        .withColumn("rn", row_number().over(w).cast(IntegerType))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn"), col("term"), round6(col("tfidf")).as("tfidf"))
        .orderBy("doc_id", "rn")
    }
  )

  private def sqlHits(ws: Seq[String]): String =
    s"len(list_filter(t, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")})))"

  // hoisted so t13's confusion matrix composes the pinned t02/t12 SQL
  // as subqueries (the s08 pattern: the evaluation row cannot drift
  // from the queries it evaluates)
  private lazy val T02Sql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS awl,
       |    CAST(${sqlHits(StopEn)} AS DOUBLE) / len(t) AS sr
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents))
       |SELECT doc_id, chars, words, floor((awl) * 1000000.0 + 0.5) / 1000000.0 AS avg_word_len,
       |  floor((sr) * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
       |  floor((0.5 * least(words / 100.0, 1.0) + 0.3 * least(awl / 8.0, 1.0) + 0.2 * sr) * 1000000.0 + 0.5) / 1000000.0 AS quality
       |FROM f ORDER BY doc_id""".stripMargin

  // hoisted so s15's reciprocal-rank fusion composes the pinned BM25
  // lexical leg as a subquery (the t13/s08 anti-drift pattern)
  private[queries] val T08Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
      |stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms
      |       WHERE term IN ('data', 'query', 'hash') GROUP BY doc_id, term),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |sc AS (
      |  SELECT tf.doc_id, tf.term,
      |    ln((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS sc
      |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
      |piv AS (
      |  SELECT doc_id,
      |    coalesce(max(CASE WHEN term = 'data' THEN sc END), 0.0) AS s1,
      |    coalesce(max(CASE WHEN term = 'query' THEN sc END), 0.0) AS s2,
      |    coalesce(max(CASE WHEN term = 'hash' THEN sc END), 0.0) AS s3
      |  FROM sc GROUP BY doc_id)
      |SELECT doc_id, floor((s1 + s2 + s3) * 1000000.0 + 0.5) / 1000000.0 AS bm25
      |FROM piv ORDER BY doc_id""".stripMargin

  private val T12Sql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sc AS (
      |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
      |    CAST(list_sum(list_transform(t, x ->
      |      (CAST(concat('0x', substr(md5(concat('w', CAST(
      |         CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 64
      |       AS VARCHAR))), 1, 15)) AS BIGINT) % 1001) - 500)) AS BIGINT) AS raw
      |  FROM toks)
      |SELECT doc_id, n_tokens, raw,
      |  floor((CAST(raw AS DOUBLE) / (n_tokens * 1000.0)) * 1000000.0 + 0.5) / 1000000.0 AS score,
      |  CASE WHEN raw > 0 THEN 'keep' ELSE 'drop' END AS verdict
      |FROM sc ORDER BY doc_id""".stripMargin

  private val BpeRounds = 8

  /** wc (corpus word counts) + w0 (initial char segmentation) — the
    * prolog shared by the t15/t16 BPE oracles. */
  private def bpeProlog: String =
    """wc AS (
      |  SELECT word, count(*) AS cnt FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
      |    FROM documents)
      |  GROUP BY word),
      |w0 AS (
      |  SELECT word, ' ' || array_to_string(list_transform(range(1, len(word) + 1),
      |    i -> word[i]), ' ') || ' </w>' AS seg, cnt
      |  FROM wc)""".stripMargin

  /** One CTE layer per learn round: pair stats -> argmax -> merge. */
  private def bpeLayers: String = (0 until BpeRounds).map { i =>
    s"""s$i AS (SELECT cnt, list_filter(string_split(seg, ' '), x -> x <> '') AS sy FROM w$i),
       |p$i AS (
       |  SELECT pr[1] AS l, pr[2] AS r, CAST(sum(cnt) AS BIGINT) AS s
       |  FROM (SELECT cnt, unnest(list_zip(list_slice(sy, 1, len(sy) - 1),
       |                                    list_slice(sy, 2, len(sy)))) AS pr
       |        FROM s$i)
       |  GROUP BY 1, 2),
       |b$i AS (SELECT l, r, s FROM p$i ORDER BY s DESC, l, r LIMIT 1),
       |w${i + 1} AS (
       |  SELECT word, replace(seg, ' ' || l || ' ' || r, ' ' || l || r) AS seg, cnt
       |  FROM w$i, b$i)""".stripMargin
  }.mkString(",\n")


  /** t23's confusion-matrix oracle — same trigram stream, train split,
    * micro-nat model fold, and tie-break CASE order as the Spark side;
    * unseen trigrams hit the same formula at c = 0. Shared verbatim by
    * t26 (the persisted-model serve).
    */
  private def t23Sql: String = {
      val L = Seq("de", "en", "es", "fr", "zh")
      val cCols = L.map(l =>
        s"sum(CASE WHEN lang = '$l' THEN c END) AS c_$l").mkString(", ")
      val ctCols = L.map(l =>
        s"sum(CASE WHEN lang = '$l' THEN c END) AS ct_$l").mkString(", ")
      val wCols = L.map(l =>
        s"""CAST(floor(ln(CAST(coalesce(c_$l, 0) + 1 AS DOUBLE) /
           |      CAST(ct_$l + v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS w_$l"""
          .stripMargin).mkString(",\n    ")
      val dCols = L.map(l =>
        s"""CAST(floor(ln(CAST(1 AS DOUBLE) /
           |      CAST(ct_$l + v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS d_$l"""
          .stripMargin).mkString(",\n    ")
      val sCols = L.map(l =>
        s"CAST(sum(n * coalesce(w_$l, d_$l)) AS BIGINT) AS s_$l").mkString(", ")
      val best = s"greatest(${L.map(l => s"s_$l").mkString(", ")})"
      val predCase = L.init.map(l => s"WHEN s_$l = $best THEN '$l'").mkString(" ")
      s"""WITH cl AS (SELECT doc_id, lang,
         |    regexp_replace(lower(text), '[^a-z ]', '', 'g') AS t FROM documents),
         |tg AS (SELECT doc_id, lang,
         |    unnest(list_transform(range(1, length(t) - 1),
         |      i -> substr(t, CAST(i AS INT), 3))) AS g
         |  FROM cl),
         |tr AS (SELECT lang, g, count(*) AS c FROM tg
         |  WHERE doc_id % 5 <> 0 GROUP BY lang, g),
         |tot AS (SELECT count(DISTINCT g) AS v, $ctCols FROM tr),
         |mw AS (SELECT g, $cCols FROM tr GROUP BY g),
         |model AS (SELECT g,
         |    $wCols
         |  FROM mw CROSS JOIN tot),
         |dft AS (SELECT
         |    $dCols
         |  FROM tot),
         |ev AS (SELECT doc_id, lang, g, count(*) AS n FROM tg
         |  WHERE doc_id % 5 = 0 GROUP BY doc_id, lang, g),
         |sc AS (SELECT doc_id, lang, $sCols
         |  FROM ev LEFT JOIN model USING (g) CROSS JOIN dft
         |  GROUP BY doc_id, lang),
         |pr AS (SELECT lang, CASE $predCase ELSE '${L.last}' END AS pred_lang FROM sc)
         |SELECT lang, pred_lang, count(*) AS n FROM pr GROUP BY lang, pred_lang
         |ORDER BY lang, pred_lang""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "t01_langid" -> {
      val scores = langs.map { case (l, ws) => s"CAST(${sqlHits(ws)} AS BIGINT) AS s_$l" }
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |scored AS (SELECT doc_id, ${scores.mkString(", ")} FROM toks)
         |SELECT doc_id, s_en, s_de, s_es, s_fr,
         |  CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
         |       WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
         |       WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
         |       WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
         |       ELSE 'fr' END AS pred_lang
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    "t02_quality" -> T02Sql,
    // level is CASE'd on the ROUNDED flesch in both engines
    "t19_readability" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
        |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS sentences,
        |    greatest(CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT), 1) AS syllables
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, words, sentences, syllables,
        |    floor((206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
        |      - 84.6 * (CAST(syllables AS DOUBLE) / words)) * 1000000.0 + 0.5)
        |      / 1000000.0 AS flesch
        |  FROM f)
        |SELECT doc_id, words, sentences, syllables, flesch,
        |  CASE WHEN flesch >= 90 THEN 'very_easy'
        |       WHEN flesch >= 60 THEN 'standard'
        |       WHEN flesch >= 30 THEN 'difficult'
        |       ELSE 'very_confusing' END AS level
        |FROM r ORDER BY doc_id""".stripMargin,
    "t03_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t04_fingerprint" -> {
      def fp(e: String) =
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split_regex($e, ''), c -> CAST(ascii(c) AS BIGINT))), (acc, c) -> (acc * 31 + c) % $FpMod)"
      s"""SELECT doc_id, ${fp("text")} AS fp_full, ${fp("substr(text, 1, 64)")} AS fp_head
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "t06_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id, 2 AS n,
        |    unnest(list_transform(range(1, greatest(len(t), 1)),
        |      i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks
        |  UNION ALL
        |  SELECT doc_id, 3,
        |    unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |  FROM toks),
        |c AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY 1, 2, 3),
        |a AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN n = 2 THEN c END) AS BIGINT) AS total2,
        |    CAST(count(CASE WHEN n = 2 THEN 1 END) AS BIGINT) AS dist2,
        |    CAST(max(CASE WHEN n = 2 THEN c END) AS BIGINT) AS top2,
        |    CAST(sum(CASE WHEN n = 3 THEN c END) AS BIGINT) AS total3,
        |    CAST(count(CASE WHEN n = 3 THEN 1 END) AS BIGINT) AS dist3
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, total2,
        |  floor((CAST(total2 - dist2 AS DOUBLE) / total2) * 1000000.0 + 0.5) / 1000000.0 AS dup2_frac,
        |  floor((CAST(top2 AS DOUBLE) / total2) * 1000000.0 + 0.5) / 1000000.0 AS top2_frac,
        |  floor((CAST(total3 - dist3 AS DOUBLE) / total3) * 1000000.0 + 0.5) / 1000000.0 AS dup3_frac
        |FROM a ORDER BY doc_id""".stripMargin,
    "t07_vocab" ->
      """WITH tf AS (
        |  SELECT term, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY term),
        |r AS (
        |  SELECT term, CAST(n AS BIGINT) AS n,
        |    CAST(row_number() OVER (ORDER BY n DESC, term) AS INT) AS rank,
        |    CAST(sum(n) OVER (ORDER BY n DESC, term
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      / CAST(sum(n) OVER () AS DOUBLE) AS cov
        |  FROM tf)
        |SELECT rank, term, n, floor((cov) * 1000000.0 + 0.5) / 1000000.0 AS coverage
        |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin,
    "t11_lang_confusion" -> {
      val scores = langs.map { case (l, ws) => s"CAST(${sqlHits(ws)} AS BIGINT) AS s_$l" }
      s"""WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
         |scored AS (SELECT doc_id, lang, ${scores.mkString(", ")} FROM toks),
         |pred AS (
         |  SELECT lang,
         |    CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'unknown'
         |         WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
         |         WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
         |         WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
         |         ELSE 'fr' END AS pred_lang
         |  FROM scored)
         |SELECT lang, pred_lang, count(*) AS cnt
         |FROM pred GROUP BY lang, pred_lang
         |ORDER BY lang, pred_lang""".stripMargin
    },
    "t12_hash_classifier" -> T12Sql,
    "t13_classifier_eval" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    CASE WHEN quality >= 0.5 THEN 'good' ELSE 'poor' END AS heuristic
         |  FROM ($T02Sql)),
         |p AS (SELECT doc_id, verdict FROM ($T12Sql))
         |SELECT heuristic, verdict, count(*) AS cnt
         |FROM h JOIN p USING (doc_id)
         |GROUP BY heuristic, verdict
         |ORDER BY heuristic, verdict""".stripMargin,
    "t14_bigram_typicality" ->
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z ]', '', 'g') AS txt
        |  FROM documents),
        |d AS (SELECT doc_id, txt FROM n WHERE length(txt) >= 2),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(txt)),
        |    i -> substr(txt, CAST(i AS INT), 2))) AS g
        |  FROM d),
        |m AS (SELECT g, count(*) AS cnt FROM bg GROUP BY g)
        |SELECT bg.doc_id, count(*) AS n_bigrams,
        |  CAST(sum(m.cnt) AS BIGINT) AS familiarity,
        |  floor((CAST(sum(m.cnt) AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS avg_count
        |FROM bg JOIN m USING (g)
        |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin,
    // the learner replayed as generated per-round CTE layers: pair
    // stats -> argmax (same tie-break) -> replace-merge, 8 rounds
    "t15_bpe_merges" ->
      s"""WITH $bpeProlog,
         |$bpeLayers
         |SELECT * FROM (
         |  ${(0 until BpeRounds).map(i =>
              s"SELECT CAST(${i + 1} AS BIGINT) AS rank, l, r, l || r AS merged, s AS pair_count FROM b$i")
             .mkString(" UNION ALL ")})
         |ORDER BY rank""".stripMargin,
    // the final layer's segmentation IS the tokenized vocabulary
    "t16_bpe_vocab" ->
      s"""WITH $bpeProlog,
         |$bpeLayers
         |SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM (
         |  SELECT cnt, unnest(list_filter(string_split(seg, ' '), x -> x <> '')) AS piece
         |  FROM w$BpeRounds)
         |GROUP BY piece ORDER BY n DESC, piece LIMIT 50""".stripMargin,
    // t16's SQL verbatim: the row asserts the PERSISTED model serves
    // identically to the in-memory one, so the oracle must not move
    "t25_bpe_persisted" ->
      s"""WITH $bpeProlog,
         |$bpeLayers
         |SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM (
         |  SELECT cnt, unnest(list_filter(string_split(seg, ' '), x -> x <> '')) AS piece
         |  FROM w$BpeRounds)
         |GROUP BY piece ORDER BY n DESC, piece LIMIT 50""".stripMargin,
    "t17_bpe_doc_tokens" ->
      s"""WITH $bpeProlog,
         |$bpeLayers,
         |np AS (
         |  SELECT word,
         |    CAST(len(list_filter(string_split(seg, ' '), x -> x <> '')) AS BIGINT) AS n_pieces
         |  FROM w$BpeRounds),
         |dw AS (
         |  SELECT doc_id, word, count(*) AS k FROM (
         |    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
         |    FROM documents)
         |  GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(k) AS BIGINT) AS ws_tokens,
         |  CAST(sum(k * n_pieces) AS BIGINT) AS bpe_tokens,
         |  floor((CAST(sum(k * n_pieces) AS DOUBLE) / CAST(sum(k) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS pieces_per_word
         |FROM dw JOIN np USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // t17's SQL verbatim: the row asserts the corpus tokenized from the
    // RE-READ artifact ≡ tokenized from the in-memory model, so the
    // oracle must not move (the t25/t26/t27 anti-drift rule)
    "t28_bpe_serve" ->
      s"""WITH $bpeProlog,
         |$bpeLayers,
         |np AS (
         |  SELECT word,
         |    CAST(len(list_filter(string_split(seg, ' '), x -> x <> '')) AS BIGINT) AS n_pieces
         |  FROM w$BpeRounds),
         |dw AS (
         |  SELECT doc_id, word, count(*) AS k FROM (
         |    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
         |    FROM documents)
         |  GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(k) AS BIGINT) AS ws_tokens,
         |  CAST(sum(k * n_pieces) AS BIGINT) AS bpe_tokens,
         |  floor((CAST(sum(k * n_pieces) AS DOUBLE) / CAST(sum(k) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS pieces_per_word
         |FROM dw JOIN np USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // t17's CTEs re-composed (same trained tokenizer), rolled up to
    // the per-language fertility report
    "t24_fertility" ->
      s"""WITH $bpeProlog,
         |$bpeLayers,
         |np AS (
         |  SELECT word,
         |    CAST(len(list_filter(string_split(seg, ' '), x -> x <> '')) AS BIGINT) AS n_pieces
         |  FROM w$BpeRounds),
         |dw AS (
         |  SELECT doc_id, word, count(*) AS k FROM (
         |    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
         |    FROM documents)
         |  GROUP BY 1, 2),
         |per AS (
         |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS ws_tokens,
         |    CAST(sum(k * n_pieces) AS BIGINT) AS bpe_tokens
         |  FROM dw JOIN np USING (word) GROUP BY doc_id),
         |meta AS (SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS chars
         |  FROM documents)
         |SELECT lang, count(*) AS docs, CAST(sum(chars) AS BIGINT) AS chars,
         |  CAST(sum(ws_tokens) AS BIGINT) AS ws_tokens,
         |  CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens,
         |  floor((CAST(sum(bpe_tokens) AS DOUBLE) / CAST(sum(ws_tokens) AS DOUBLE))
         |    * 1000000.0 + 0.5) / 1000000.0 AS fertility,
         |  floor((CAST(sum(chars) AS DOUBLE) / CAST(sum(bpe_tokens) AS DOUBLE))
         |    * 1000000.0 + 0.5) / 1000000.0 AS chars_per_token
         |FROM per JOIN meta USING (doc_id)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // unigram/bigram counts replayed from the same whitespace split;
    // the pmi arithmetic mirrors the Spark cast/operation order so both
    // engines produce identical doubles before the shared rounding
    "t18_pmi_collocations" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |un AS (SELECT w, count(*) AS nw FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        |nt AS (SELECT CAST(sum(nw) AS BIGINT) AS n_tok FROM un),
        |pr AS (SELECT t[i] AS w1, t[i+1] AS w2
        |       FROM (SELECT t, unnest(range(1, greatest(len(t), 1))) AS i FROM toks)),
        |bi AS (SELECT w1, w2, count(*) AS n_xy FROM pr GROUP BY w1, w2),
        |nb AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n_big FROM bi)
        |SELECT w1, w2, n_xy, a.nw AS n_x, b.nw AS n_y,
        |  floor((ln(
        |    (CAST(n_xy AS DOUBLE) / CAST(n_big AS DOUBLE)) /
        |      ((CAST(a.nw AS DOUBLE) / CAST(n_tok AS DOUBLE)) *
        |        (CAST(b.nw AS DOUBLE) / CAST(n_tok AS DOUBLE)))))
        |    * 1000000.0 + 0.5) / 1000000.0 AS pmi
        |FROM bi JOIN un a ON w1 = a.w JOIN un b ON w2 = b.w
        |CROSS JOIN nt CROSS JOIN nb
        |WHERE n_xy >= 5
        |ORDER BY pmi DESC, w1, w2
        |LIMIT 20""".stripMargin,
    "t10_normalize" ->
      """SELECT doc_id,
        |  regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
        |    ' +', ' ', 'g') AS norm,
        |  CAST(length(regexp_replace(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')),
        |    ' +', ' ', 'g')) AS BIGINT) AS norm_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t09_countmin" -> {
      val a = MinhashA.take(4).mkString("[", ", ", "]")
      val b = MinhashB.take(4).mkString("[", ", ", "]")
      s"""WITH tf AS (
         |  SELECT term, count(*) AS n FROM (
         |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
         |  GROUP BY term),
         |h AS (
         |  SELECT term, n,
         |    CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) % $MinhashP AS hm
         |  FROM tf),
         |tagged AS (
         |  SELECT term, n, i,
         |    ((($a[i + 1] * hm + $b[i + 1]) % $MinhashP) % 256) AS b
         |  FROM h, (SELECT unnest(range(0, 4)) AS i) d),
         |counters AS (SELECT i, b, sum(n) AS c FROM tagged GROUP BY i, b),
         |est AS (
         |  SELECT term, max(n) AS n, min(c) AS est
         |  FROM tagged JOIN counters USING (i, b) GROUP BY term)
         |SELECT term, CAST(n AS BIGINT) AS n, CAST(est AS BIGINT) AS est,
         |  CAST(est - n AS BIGINT) AS overcount
         |FROM est ORDER BY n DESC, term LIMIT 20""".stripMargin
    },
    "t08_bm25" -> T08Sql,
    // same 27 fixed-order terms; ln + literal addition order mirror the
    // Spark expressions token-for-token
    "t20_entropy" -> {
      val alphabet = ' ' +: ('a' to 'z')
      def cnt(ch: Char) =
        s"(length(text) - length(replace(text, '$ch', '')))"
      val terms = alphabet.map { ch =>
        val c = cnt(ch)
        s"""CASE WHEN $c > 0
           |  THEN (CAST($c AS DOUBLE) / CAST(length(text) AS DOUBLE))
           |    * ln(CAST(length(text) AS DOUBLE) / CAST($c AS DOUBLE))
           |  ELSE 0.0 END""".stripMargin
      }
      val nDistinct = alphabet.map(ch =>
        s"(CASE WHEN ${cnt(ch)} > 0 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS chars,
         |  CAST($nDistinct AS BIGINT) AS alphabet_size,
         |  floor(((${terms.mkString("\n + ")}) / ln(2.0)) * 1000000.0 + 0.5)
         |    / 1000000.0 AS entropy_bits
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // t14's bigram frame + the smoothed model folded to integer
    // micro-nats before any per-doc aggregation (exact long sums)
    "t21_bigram_lm" ->
      """WITH nrm AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z ]', '', 'g') AS txt
        |  FROM documents),
        |d AS (SELECT doc_id, txt FROM nrm WHERE length(txt) >= 2),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(txt)),
        |    i -> substr(txt, CAST(i AS INT), 2))) AS g
        |  FROM d),
        |gc AS (SELECT doc_id, g, count(*) AS n FROM bg GROUP BY doc_id, g),
        |m AS (SELECT g, count(*) AS cnt FROM bg GROUP BY g),
        |cx AS (SELECT substr(g, 1, 1) AS x, CAST(sum(cnt) AS BIGINT) AS cx
        |       FROM m GROUP BY 1),
        |lp AS (
        |  SELECT g, CAST(floor(ln(CAST(cnt + 1 AS DOUBLE) / CAST(cx + 27 AS DOUBLE))
        |    * 1000000.0 + 0.5) AS BIGINT) AS lp_micro
        |  FROM m JOIN cx ON substr(m.g, 1, 1) = cx.x)
        |SELECT gc.doc_id,
        |  CAST(sum(gc.n) AS BIGINT) AS n_bigrams,
        |  CAST(sum(gc.n * lp.lp_micro) AS BIGINT) AS ll_micro,
        |  floor(((CAST(sum(gc.n * lp.lp_micro) AS DOUBLE) / 1000000.0)
        |    / CAST(sum(gc.n) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS avg_ll
        |FROM gc JOIN lp USING (g)
        |GROUP BY gc.doc_id ORDER BY doc_id""".stripMargin,
    // per-word log-ratios fold to micro-nats (same product association
    // as the Spark expression), per-source sums are exact longs
    "t22_source_kl" ->
      """WITH sw AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |c1 AS (SELECT source, w, count(*) AS cs FROM sw GROUP BY source, w),
        |cw AS (SELECT w, CAST(sum(cs) AS BIGINT) AS c FROM c1 GROUP BY w),
        |ts AS (SELECT source, CAST(sum(cs) AS BIGINT) AS t_s FROM c1 GROUP BY source),
        |tt AS (SELECT CAST(sum(t_s) AS BIGINT) AS t FROM ts),
        |terms AS (
        |  SELECT c1.source, t_s,
        |    cs * CAST(floor(ln((CAST(cs AS DOUBLE) * CAST(t AS DOUBLE)) /
        |      (CAST(t_s AS DOUBLE) * CAST(c AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT) AS cst
        |  FROM c1 JOIN cw USING (w) JOIN ts USING (source) CROSS JOIN tt)
        |SELECT source, CAST(max(t_s) AS BIGINT) AS toks,
        |  CAST(sum(cst) AS BIGINT) AS kl_micro,
        |  floor(((CAST(sum(cst) AS DOUBLE) / 1000000.0) / CAST(max(t_s) AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS kl
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    "t23_trigram_langid" -> t23Sql,
    // the persisted-model row re-serves t23's SQL: micro-nat longs
    // round-trip parquet bit-exactly, so a green row proves
    // model-from-disk ≡ model-in-memory
    "t26_langid_persisted" -> t23Sql,
    // the append-maintained model re-serves t23's SQL: per-(lang, g)
    // LONG counts sum exactly across shards, so the merged artifact's
    // model is bit-identical to the full retrain's
    "t27_langid_append" -> t23Sql,
    // the compaction row re-serves t23's SQL once more: a green row =
    // append → compact → serve ≡ serve (compaction moves bytes, never
    // values; the t25/t26/t27 anti-drift rule)
    "t29_langid_compacted" -> t23Sql,
    "t05_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tfc AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM documents),
        |scored AS (
        |  SELECT doc_id, tfc.term AS term, tf * ln((nd + 1.0) / (df + 1.0)) AS tfidf
        |  FROM tfc JOIN dfc ON tfc.term = dfc.term CROSS JOIN n)
        |SELECT doc_id, rn, term, floor((tfidf) * 1000000.0 + 0.5) / 1000000.0 AS tfidf FROM (
        |  SELECT doc_id, term, tfidf,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rn
        |  FROM scored)
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin
  )
}
