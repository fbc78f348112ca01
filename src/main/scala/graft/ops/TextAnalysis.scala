package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines, over the
  * `documents` table: language ID (stopword heuristic), quality scoring,
  * token counting (whitespace + BPE-ish regex), and document
  * fingerprinting.
  *
  * Everything is a codegen'd built-in column expression — no UDFs — so each
  * op is a single narrow map stage: embarrassingly parallel, no shuffle,
  * scales linearly with input splits.
  */
object TextAnalysis {

  /** Count non-overlapping occurrences of literal `w` in `c` via
    * length-delta (exactly reproducible in any SQL engine).
    */
  private def litCount(c: Column, w: String): Column =
    ((length(c) - length(replace(c, lit(w), lit("")))) / w.length).cast("long")

  /** Language ID by stopword-count heuristic: score a handful of
    * high-frequency function words per language over the lowercased,
    * space-padded text; argmax wins, 'und' (undetermined) when all scores
    * are zero. Ties break by fixed language order en>es>fr>de (stable,
    * documented).
    */
  def langId(documents: DataFrame): DataFrame = {
    val t = concat(lit(" "), lower(col("text")), lit(" "))
    def score(words: Seq[String]): Column =
      words.map(w => litCount(t, s" $w ")).reduce(_ + _)
    // materialize the four scores in their own projection: the argmax
    // when-chain references each score several times, and inlined score
    // expressions would re-scan the text once per reference
    val scored = documents.select(
      col("doc_id"),
      col("lang").as("labeled_lang"),
      score(Seq("the", "and", "of", "is")).as("score_en"),
      score(Seq("el", "la", "de", "que")).as("score_es"),
      score(Seq("le", "la", "et", "les")).as("score_fr"),
      score(Seq("der", "die", "und", "das")).as("score_de"))
    val (en, es, fr, de) =
      (col("score_en"), col("score_es"), col("score_fr"), col("score_de"))
    scored
      .select(
        col("doc_id"), col("labeled_lang"),
        en, es, fr, de,
        when(greatest(en, es, fr, de) === 0, "und")
          .when(en >= es && en >= fr && en >= de, "en")
          .when(es >= fr && es >= de, "es")
          .when(fr >= de, "fr")
          .otherwise("de").as("predicted_lang"))
      .orderBy("doc_id")
  }

  /** Quality scoring: char/word counts, punctuation ratio, stopword ratio,
    * mean word length — combined into a [0,1] heuristic quality score of
    * the kind used to filter web scrape for LLM pretraining.
    */
  def qualityScore(documents: DataFrame): DataFrame =
    qualityMeasured(documents)
      .select(
        col("doc_id"),
        col("chars").cast("long").as("n_chars"),
        col("words").cast("long").as("n_words"),
        col("punct").cast("long").as("n_punct"),
        col("stop").cast("long").as("n_stop"),
        round(qualityMeanWordLen, 4).as("mean_word_len"),
        round(qualityExpr, 4).as("quality"))
      .orderBy("doc_id")

  /** The per-row measurement projection behind [[qualityScore]]: counts
    * are measured ONCE in their own projection (the score formula
    * references words/stop several times, and inlined they would re-run
    * the regexp/replace scans once per reference). `extras` are computed
    * in the SAME projection — the hook [[dedupKeepBest]] /
    * [[topQualityPerSource]] use to carry md5/source through one scan
    * instead of re-scanning the text and joining back on doc_id (r20,
    * guide §1.2: quality is pure per-row work, so a join to recover
    * same-row columns was a full second corpus scan plus an exchange).
    */
  private def qualityMeasured(documents: DataFrame, extras: Column*): DataFrame = {
    val t = col("text")
    documents.select(
      Seq(
        col("doc_id"),
        length(t).as("chars"),
        regexp_count(t, lit("\\S+")).as("words"),
        regexp_count(t, lit("[\\.,;:!\\?]")).as("punct"),
        (litCount(concat(lit(" "), lower(t), lit(" ")), " the ") +
          litCount(concat(lit(" "), lower(t), lit(" ")), " a ") +
          litCount(concat(lit(" "), lower(t), lit(" ")), " and ")).as("stop"))
        ++ extras: _*)
  }

  private def qualityMeanWordLen: Column = {
    val (chars, words) = (col("chars"), col("words"))
    when(words > 0, chars.cast("double") / words).otherwise(lit(0.0))
  }

  /** The [0,1] heuristic score over [[qualityMeasured]]'s columns —
    * shared verbatim by every consumer so the rounded value is
    * bit-identical however it is reached. */
  private def qualityExpr: Column = {
    val (chars, words, stop) = (col("chars"), col("words"), col("stop"))
    when(chars < 50, 0.0).otherwise(
      least(lit(1.0),
        lit(0.4) * least(lit(1.0), words.cast("double") / 50.0) +
        lit(0.3) * least(lit(1.0), stop.cast("double") * 10.0 / greatest(words, lit(1)).cast("double")) +
        lit(0.3) * when(qualityMeanWordLen.between(3.0, 10.0), 1.0).otherwise(0.5)))
  }

  /** (doc_id, quality, extras) in ONE text scan — the join-free quality
    * projection for consumers that need the score next to other same-row
    * columns. */
  private def qualityWith(documents: DataFrame, extras: (String, Column)*): DataFrame =
    qualityMeasured(documents, extras.map { case (n, c) => c.as(n) }: _*)
      .select(col("doc_id") +: round(qualityExpr, 4).as("quality") +:
        extras.map { case (n, _) => col(n) }: _*)

  /** Token counting: whitespace tokens and a BPE-ish regex segmentation
    * (letter runs / digit runs / single non-space symbols), plus the
    * chars-per-token ratio LLM data work keys on.
    */
  def tokenStats(documents: DataFrame): DataFrame = {
    val ws = regexp_count(col("text"), lit("\\S+"))
    val bpe = regexp_count(col("text"), lit(BpeTokenRe))
    documents
      .select(
        col("doc_id"),
        ws.cast("long").as("ws_tokens"),
        bpe.cast("long").as("bpe_tokens"),
        round(when(bpe > 0, length(col("text")).cast("double") / bpe).otherwise(0.0), 4)
          .as("chars_per_token"))
      .orderBy("doc_id")
  }

  /** PII redaction audit: detect-and-redact emails, international-ish
    * phone numbers, and IPv4 addresses — the safety scrub every
    * training-data pipeline runs before anything else sees the text. The
    * patterns stay in the RE2-compatible subset (no backreferences, no
    * lookaround) so the DuckDB oracle replays them byte-for-byte. Output
    * is the per-doc detection counts plus the md5 of the redacted text (a
    * scalar proof of the exact redaction result — the full redacted text
    * ships in production, but a hash is what a cross-engine gate can
    * grade).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  def redactPii(documents: DataFrame): DataFrame = {
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), EmailRe, "[EMAIL]"),
          Ipv4Re, "[IP]"),
        PhoneRe, "[PHONE]")
    documents
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ips"),
        md5(redacted).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination at the n-gram level: word `n`-grams
    * (hashed) that appear in more than one source mark their documents as
    * cross-contaminated — the standard eval-leakage check (full-document
    * hashing misses partial inclusion; 13-gram overlap is the
    * conventional granularity). Shape: explode grams → aggregate gram →
    * sources per gram → semi-join back to per-doc counts. Two shuffles,
    * both on the gram hash / doc id — never a doc×doc comparison.
    */
  def ngramContamination(documents: DataFrame, n: Int = 13): DataFrame = {
    // materialize the token array in its own projection: the gram lambda
    // below references it per position, and the interpreted HOF path has
    // no CSE — an inlined tokenizer would re-run once per gram
    val withWords = documents.select(
      col("doc_id"), col("source"),
      graft.functions.TextExpressions.alnumTokens(col("text")).as("words"))
    // gram i = words[i..i+n): hash the joined text to keep the shuffle
    // rows narrow (60-bit md5 prefix, same scheme as the dedup suite),
    // generated in one codegen loop per row
    val exploded = withWords
      .select(col("doc_id"), col("source"),
        explode(graft.functions.TextExpressions.hashedNgrams(col("words"), n))
          .as("gram"))
    // "gram occurs in > 1 distinct sources" ⟺ min(source) ≠ max(source)
    // over the gram's partition — ONE unordered window shuffle on the gram
    // hash with constant per-group state (r20; the same rewrite
    // substringDedup adopted in r19). The previous groupBy(countDistinct)
    // + join-back shipped the exploded gram stream through a gram-keyed
    // exchange TWICE (column pruning gives the aggregate and join legs
    // different subtrees, so exchange reuse never fires) and re-ran the
    // tokenize + hash pass for the second leg. Identical rows: the same
    // (doc, gram) instances survive, and countDistinct collapses
    // duplicates exactly as before (the oracle replays the join form).
    val byGram = Window.partitionBy("gram")
    exploded
      .withColumn("leaky",
        min(col("source")).over(byGram) =!= max(col("source")).over(byGram))
      .filter(col("leaky"))
      .groupBy("doc_id")
      .agg(countDistinct("gram").as("leaked_grams"))
      .orderBy("doc_id")
  }

  /** Fuzzy benchmark decontamination: find corpus documents containing a
    * token n-gram within TOKEN edit distance 1 of any benchmark n-gram
    * (one word substituted) — the tolerance that catches the
    * "Question: … Answer: …" eval leak a copy-editor touched, which
    * exact 13-gram overlap ([[ngramContamination]]) and the Bloom
    * pre-filter ([[bloomDecontamination]]) both miss.
    *
    * The trick is the [[typoPairs]] blocking argument lifted from
    * characters-in-a-word to tokens-in-a-gram: two n-grams differing in
    * exactly one position p share the "deletion variant" that masks p
    * (and ONLY that variant — any other mask retains the differing
    * token). So each gram emits n position-masked variant hashes plus one
    * unmasked hash (mask index −1), and a plain equi-join on
    * (mask index, variant hash) finds every distance-≤1 pair with zero
    * similarity computation: matching at any mask ⟹ distance ≤ 1;
    * matching at −1 ⟹ exact. No verify leg, no cartesian, provably
    * complete for one substitution.
    *
    * Scale shape: the benchmark side is eval-set-sized, so its distinct
    * (mask, hash) set broadcasts and THE CORPUS NEVER SHUFFLES for the
    * join — the only aggregation shuffle carries matched positions. The
    * (n+1)× variant fan-out is a map-stage cost, the price of fuzziness
    * (cheap next to a suffix-automaton alternative that cannot
    * distribute).
    */
  def fuzzyContamination(
      documents: DataFrame,
      benchSource: String = "src0",
      n: Int = 5): DataFrame = {
    val withWords = documents.select(
      col("doc_id"), col("source"),
      graft.functions.TextExpressions.alnumTokens(col("text")).as("ws"))
    val variantsRaw = withWords
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.TextExpressions.fuzzyVariants(col("ws"), n, 16))
          .as("u"))
      .select(col("doc_id"), col("source"), col("u.pos"), col("u.d"), col("u.vh"))
    // one variant computation feeds both the benchmark and corpus legs
    val variants =
      if (variantsRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        variantsRaw.persist()
      else variantsRaw
    val bench = variants.filter(col("source") === benchSource)
      .select("d", "vh").distinct()
    val hits = variants.filter(col("source") =!= benchSource)
      .join(broadcast(bench), Seq("d", "vh"))
      .groupBy("doc_id", "pos")
      .agg(max((col("d") === -1).cast("long")).as("is_exact"))
    withWords
      .filter(col("source") =!= benchSource)
      .select(col("doc_id"), col("source"),
        greatest(size(col("ws")) - (n - 1), lit(0)).cast("long").as("n_grams"))
      .join(
        hits.groupBy("doc_id")
          .agg(count(lit(1)).as("fuzzy_grams"),
            sum("is_exact").cast("long").as("exact_grams")),
        Seq("doc_id"))
      .orderBy("doc_id")
  }

  /** Within-document repetition score: the fraction of duplicate word
    * trigrams (1 − distinct/total), the Gopher-style quality signal that
    * catches boilerplate and degenerate generation loops. Pure per-row
    * array math — a narrow map stage, no shuffle.
    */
  def repetitionScore(documents: DataFrame): DataFrame = {
    // same materialize-first discipline as ngramContamination
    val withWords = Parallelism.floor(documents).select(
      col("doc_id"),
      graft.functions.TextExpressions.alnumTokens(col("text")).as("words"))
    val grams = transform(
      sequence(lit(1), greatest(size(col("words")) - 2, lit(1))),
      i => concat_ws(" ", slice(col("words"), i, lit(3))))
    withWords
      .select(col("doc_id"), grams.as("g"))
      .select(
        col("doc_id"),
        size(col("g")).cast("long").as("n_grams"),
        size(array_distinct(col("g"))).cast("long").as("n_distinct"))
      .select(
        col("doc_id"),
        col("n_grams"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6)
          .as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** TF-IDF top terms: tokenize (lowercase alnum runs, len ≥ 3), term
    * frequency per doc, document frequency across the corpus, score =
    * tf · ln((N+1)/(df+1)), top `k` terms per doc by (score desc, term).
    *
    * Shape at scale: explode → two hash aggregates (tf on (doc, term), df
    * on term) → broadcast-join the df side if the vocabulary is small,
    * shuffle-join otherwise → per-doc top-k via WindowGroupLimit. No
    * driver-side vocabulary.
    */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    // corpus size N rides the plan as a 1-row broadcast aggregate frame
    // (the bm25TopK scalar idiom) — no driver-side action at
    // plan-construction time
    val nRow = documents.agg(count(lit(1)).as("g_n"))
    val toks = documents.select(
      col("doc_id"),
      explode(graft.functions.TextExpressions.alnumTokens(col("text"), minLen = 3))
        .as("term"))
    // r20 (guide §1.2, the bm25TopK pattern): df derives FROM the persisted
    // tf frame — tf is already distinct on (doc_id, term), so the old
    // `toks.distinct().groupBy(term)` leg re-ran the tokenize + explode
    // pass AND paid a redundant distinct aggregate for counts tf's keys
    // already are. One corpus scan, one (doc, term) shuffle, identical df.
    val tfRaw = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val tf =
      if (tfRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE) tfRaw.persist()
      else tfRaw
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, Seq("term"))
      .crossJoin(broadcast(nRow))
      .withColumn("score",
        col("tf") * log((col("g_n") + lit(1.0)) / (col("df") + lit(1.0))))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
        round(col("score"), 6).as("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** Corpus curation: keep the top `n` docs per source by quality score
    * (ties by doc_id) — the "filter web scrape to the best N per domain"
    * pipeline stage. Executes as WindowGroupLimit: each partition keeps
    * its local top-n before the shuffle.
    */
  def topQualityPerSource(documents: DataFrame, n: Int = 10): DataFrame = {
    // one scan: source rides the quality projection (r20) — the join-back
    // to documents was a second text scan plus an exchange for a same-row
    // column
    val scored = qualityWith(documents, "source" -> col("source"))
    val w = Window.partitionBy("source").orderBy(col("quality").desc, col("doc_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= n)
      .select(col("source"), col("rnk"), col("doc_id"), col("quality"))
      .orderBy("source", "rnk")
  }

  /** Keep-best exact dedup: one doc per content hash, chosen by highest
    * quality (ties by lowest doc_id) via max_by — the curation-grade
    * variant of keep-min dedup. Single hash aggregate; the argmax state
    * is one row per group.
    */
  def dedupKeepBest(documents: DataFrame): DataFrame = {
    // one scan: the content hash rides the quality projection (r20) — the
    // join-back to documents re-scanned the text column it hashed
    val scored = qualityWith(documents, "content_hash" -> md5(col("text")))
    scored
      .groupBy(col("content_hash"))
      .agg(
        // max_by tie-breaks arbitrarily; (quality, -doc_id) makes the
        // choice total and engine-replayable
        max_by(col("doc_id"), struct(col("quality"), -col("doc_id"))).as("best_id"),
        max("quality").as("best_quality"),
        count(lit(1)).as("copies"))
      .orderBy("best_id")
  }

  /** Bloom filter geometry for [[bloomDecontaminate]]: 2^18 bits packed
    * into 32-bit words (8192 words ≈ 32 KiB — broadcast-sized at ANY
    * benchmark scale), probed at [[BloomProbeShifts]].size positions per
    * gram. The probe positions are independent bit-slices of the 60-bit
    * md5 gram hash — no second hash pass, and both engines slice the
    * same integer identically.
    */
  val BloomBits = 1 << 18
  val BloomProbeShifts = Seq(0, 18, 36)

  /** Benchmark decontamination against a Bloom filter of the eval set's
    * 13-grams — the fixed-memory scale path next to [[ngramContamination]]'s
    * exact gram join. The exact join shuffles EVERY corpus gram against
    * the benchmark gram set; the Bloom form compresses the benchmark side
    * to a 32 KiB bitmap built with one aggregation, broadcasts it, and
    * probes corpus grams map-side — at 100 TB the corpus-side shuffle
    * drops to one (doc_id, gram)-distinct pass and the benchmark side
    * never re-ships, at the price of a bounded false-positive rate
    * (m=2^18, k=3 ⇒ ~1% at 10k benchmark grams; false NEGATIVES are
    * impossible, the property `CurationSpec` pins). Output per non-bench
    * doc with ≥1 gram: (doc_id, n_grams, bloom_hits, flagged).
    */
  def bloomDecontaminate(
      documents: DataFrame,
      benchSource: String = "src0",
      n: Int = 13): DataFrame = {
    val mask = lit((BloomBits - 1).toLong)
    def positions(g: Column): Column =
      array(BloomProbeShifts.map(s => shiftright(g, s).bitwiseAND(mask)): _*)
    val withWords = documents.select(col("doc_id"), col("source"),
      graft.functions.TextExpressions.alnumTokens(col("text")).as("words"))
    val grams = withWords.select(col("doc_id"), col("source"),
      explode(graft.functions.TextExpressions.hashedNgrams(col("words"), n))
        .as("gram"))
    // build: distinct bit positions of the benchmark grams → bit_or into
    // 32-bit words (32 keeps 1<<bit far from BIGINT overflow on both
    // engines); the whole filter is ≤ BloomBits/32 rows
    val bloom = grams
      .filter(col("source") === benchSource)
      .select(explode(positions(col("gram"))).as("p"))
      .distinct()
      .select(shiftright(col("p"), 5).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p & 31 AS INT))").as("m"))
      .groupBy("w")
      .agg(expr("bit_or(m)").as("bits"))
    // probe: distinct corpus grams, 3 broadcast lookups each; a gram hits
    // iff ALL probed bits are set (an absent word row = bit unset)
    val probes = grams
      .filter(col("source") =!= benchSource)
      .select(col("doc_id"), col("gram")).distinct()
      .select(col("doc_id"), col("gram"), explode(positions(col("gram"))).as("p"))
      .select(col("doc_id"), col("gram"), shiftright(col("p"), 5).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p & 31 AS INT))").as("m"))
      .join(broadcast(bloom), Seq("w"), "left")
      .groupBy("doc_id", "gram")
      .agg(sum(when(col("bits").isNotNull &&
        col("bits").bitwiseAND(col("m")) =!= 0, 1L).otherwise(0L)).as("n_set"))
    probes
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("n_set") === BloomProbeShifts.size, 1L).otherwise(0L))
          .as("bloom_hits"))
      .withColumn("flagged", col("bloom_hits") > 0)
      .orderBy("doc_id")
  }

  /** Train/test contamination detection: normalized-text fingerprints
    * appearing in more than one source. The canonical pre-training check
    * ("is any eval doc inside the training scrape?") — one aggregate on
    * the fingerprint, no pairwise comparison.
    */
  def crossSourceContamination(documents: DataFrame): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    documents
      .select(md5(norm).as("fp"), col("doc_id"), col("source"))
      .groupBy("fp")
      .agg(
        sort_array(collect_set("source")).as("source_set"),
        sort_array(collect_list("doc_id")).as("id_list"),
        count(lit(1)).as("n_docs"))
      .filter(size(col("source_set")) > 1)
      // list state stays internal; the output edge ships canonical
      // comma-joined text (array-typed result columns are unhashable in
      // the driver's comparator — same edge rule as Relational.collectAgg)
      .select(
        col("fp"),
        array_join(col("source_set"), ",").as("sources"),
        array_join(transform(col("id_list"), _.cast("string")), ",").as("doc_ids"),
        col("n_docs"))
      .orderBy("fp")
  }

  /** Deterministic train/val/test split: assign each doc to a named split
    * by a stable hash of its id — the reproducible, partition-independent
    * way to carve a corpus (randomSplit changes membership with
    * partitioning and seed plumbing; a hash split is a pure function of
    * the id, so the same doc lands in the same split on every engine, at
    * every scale, forever — which is what makes held-out sets trustworthy
    * over pipeline reruns). Buckets: hash mod 100 → [0,90) train,
    * [90,95) val, [95,100) test.
    */
  def trainValTestSplit(
      documents: DataFrame,
      trainPct: Int = 90,
      valPct: Int = 5): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
    documents
      .select(
        col("doc_id"),
        col("source"),
        bucket.as("bucket"),
        when(bucket < trainPct, "train")
          .when(bucket < trainPct + valPct, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Deterministic mixture sampling: per-source keep rates (in basis
    * points) applied by stable id-hash — the data-mixture step of a
    * pretraining pipeline ("keep 100% of wiki, 25% of web, …") with no
    * RNG state: membership is a pure function of doc_id, so the mixture
    * is reproducible across engines, scales, and reruns, and downstream
    * held-out splits stay disjoint. Unknown sources default to dropped
    * (rate 0) — a mixture spec should be exhaustive on purpose.
    */
  def mixtureSample(
      documents: DataFrame,
      ratesBps: Map[String, Int]): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 9, 8), 16, 10)
      .cast("long") % 10000
    val rate = ratesBps.foldLeft(lit(0)) { case (acc, (src, bps)) =>
      when(col("source") === src, lit(bps)).otherwise(acc)
    }
    documents
      .select(col("doc_id"), col("source"), bucket.as("bucket"), rate.as("rate_bps"))
      .filter(col("bucket") < col("rate_bps"))
      .orderBy("doc_id")
  }

  /** Temperature-scaled mixture sampling (the multilingual α-sampling
    * recipe at α = 1/2): per-source keep rate √(n_min / n_s), so kept
    * counts are ∝ √n_s — the smallest source keeps everything, large
    * sources are thinned toward balance, the standard de-skewing between
    * proportional (α=1) and uniform (α=0) mixing. Unlike
    * [[mixtureSample]]'s hand-written rates, the rates here are DERIVED
    * FROM THE CORPUS inside the plan: per-source counts and the global
    * minimum ride as broadcast aggregate frames — fully lazy, no driver
    * action.
    *
    * Bit-exact discipline: α = 1/2 on purpose — IEEE requires division
    * and SQRT to be correctly rounded, so `sqrt(n_min/n_s)·2^30` is the
    * identical double in the JVM and DuckDB (a general pow(x, α) is NOT
    * correctly rounded and could flip a boundary hash); the comparison
    * is then integer-exact. Membership is a pure doc_id-hash function:
    * reproducible across engines, scales, partitionings, and reruns.
    */
  def temperatureMixture(documents: DataFrame): DataFrame = {
    val two30 = 1073741824L // 2^30
    val srcN = documents.groupBy("source").agg(count(lit(1)).as("n_src"))
    val minRow = srcN.agg(min("n_src").as("g_min"))
    val rates = srcN.crossJoin(broadcast(minRow))
      .select(col("source"), col("n_src"),
        floor(sqrt(col("g_min").cast("double") / col("n_src").cast("double"))
          * lit(two30)).cast("long").as("g_thr"))
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 17, 8), 16, 10)
      .cast("long") % two30
    documents
      .select(col("doc_id"), col("source"))
      .join(broadcast(rates), Seq("source"))
      .filter(bucket < col("g_thr"))
      .select(col("doc_id"), col("source"), col("n_src"),
        round(col("g_thr").cast("double") / lit(two30.toDouble), 6).as("keep_rate"))
      .orderBy("doc_id")
  }

  /** Deterministic hash sampling: keep ~1/`rate` of docs by a stable hash
    * of the id — reproducible downsampling with no RNG state, the same
    * subset on every engine and every run (unlike `sample()`, whose
    * output depends on partitioning).
    */
  def hashSample(documents: DataFrame, rate: Int = 10): DataFrame =
    documents
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % rate === 0)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Stratified sampling: exactly `perSource` docs from every source
    * (fewer when a stratum is smaller), selected by an md5 draw — the
    * "equal representation per domain" counterpart to [[mixtureSample]]'s
    * rate-based thinning. Deterministic and partition-independent (the
    * priority is a pure function of doc_id; md5 chars 25-32, disjoint
    * from the split/mixture/weighted hash slices so strata draws don't
    * correlate with held-out membership). Executes as WindowGroupLimit:
    * each partition keeps its local `perSource` smallest priorities
    * before the single shuffle on source — at 100 TB the exchange
    * carries ≈ perSource·|sources| rows, not the corpus.
    */
  /** Count-min sketch over the word stream, audited against exact counts:
    * `depth` hash rows × `width` counters, each word's estimate the MIN of
    * its cells — reported for the top-`topk` exact words so the
    * overestimate bias (est ≥ exact, collisions only inflate) is visible
    * next to the truth. Completes the sketch family (MinHash, SimHash,
    * Bloom, winnowing, HLL) with the frequency sketch. The counter grid is
    * ONE depth·width-cell aggregate (map-side combined — the 100 TB shape:
    * a 4×1024 grid merges associatively no matter how many executors
    * feed it); hashes are the repo's md5-prefix idiom, so the DuckDB
    * replay is bit-identical.
    */
  def countMinSketch(
      documents: DataFrame,
      depth: Int = 4,
      width: Int = 1024,
      topk: Int = 20): DataFrame = {
    val vocabRaw = documents
      .select(explode(graft.functions.TextExpressions.alnumTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
    val vocab =
      if (vocabRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        vocabRaw.persist()
      else vocabRaw
    def cellOf(k: Int) =
      conv(substring(md5(concat(lit(k.toString), col("word"))), 1, 8), 16, 10)
        .cast("long") % width
    val cells = (0 until depth).map { k =>
      vocab.select(lit(k).as("row"), cellOf(k).as("cell"), col("n"))
    }.reduce(_ union _)
      .groupBy("row", "cell").agg(sum("n").as("cnt"))
    val top = vocab.orderBy(col("n").desc, col("word")).limit(topk)
    val probes = (0 until depth).map { k =>
      top.select(col("word"), col("n"), lit(k).as("row"), cellOf(k).as("cell"))
    }.reduce(_ union _)
    probes
      .join(cells, Seq("row", "cell"))
      .groupBy("word")
      .agg(max("n").as("exact_cnt"), min("cnt").as("cms_est"))
      .select(col("word"), col("exact_cnt"), col("cms_est"))
      .orderBy(col("exact_cnt").desc, col("word"))
  }

  /** Corpus accounting (the "data card" rollup): per (source, lang) doc /
    * whitespace-token / char totals plus each cell's share of the corpus
    * in basis points — the first table every dataset release publishes.
    * One partial-aggregating groupBy at cell cardinality; the grand
    * totals ride a broadcast 1-row frame. Shares are exact-integer
    * arithmetic (bps = cell·10000 div total), so no float division order
    * can flip a digit.
    */
  def corpusAccounting(documents: DataFrame): DataFrame = {
    val cells = documents
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        // \S+ runs (not a \s+ split) so stray leading/trailing whitespace
        // can't mint empty tokens — and so the DuckDB replay is identical
        sum(size(expr("regexp_extract_all(text, '\\\\S+', 0)"))).as("n_tokens"),
        sum(length(col("text"))).as("n_chars"))
    val totals = cells.agg(
      sum("n_docs").as("t_docs"), sum("n_tokens").as("t_tokens"),
      sum("n_chars").as("t_chars"))
    cells.crossJoin(broadcast(totals))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_chars"),
        expr("(n_docs * 10000) div t_docs").as("doc_share_bps"),
        expr("(n_tokens * 10000) div t_tokens").as("token_share_bps"))
      .orderBy("source", "lang")
  }

  /** The composed curation pipeline — the end-to-end "make a training
    * corpus" flow run as ONE declarative plan: exact dedup keeping the
    * best-quality copy ([[dedupKeepBest]]) → drop cross-source
    * 13-gram-contaminated docs ([[ngramContamination]], as a left-anti
    * join) → quality floor. Each stage is an operator verified on its own
    * elsewhere; this query pins the COMPOSITION (Catalyst fuses the
    * stages — one corpus scan feeds the quality/dedup leg and one the
    * contamination leg; the anti join is doc-id-cardinality, never
    * text-sized). The threshold compares the 4-digit-rounded score, so
    * the cut is on bit-identical values in both engines.
    */
  def curationPipeline(documents: DataFrame, minQuality: Double = 0.6): DataFrame = {
    val kept = dedupKeepBest(documents)
      .select(col("best_id").as("doc_id"), col("best_quality").as("quality"))
    val flagged = ngramContamination(documents).select(col("doc_id"))
    kept
      .join(documents.select("doc_id", "lang", "source"), Seq("doc_id"))
      .join(flagged, Seq("doc_id"), "left_anti")
      .filter(col("quality") >= minQuality)
      .select(col("doc_id"), col("lang"), col("source"), col("quality"))
      .orderBy("doc_id")
  }

  /** Distributed BPE merge learning (the tokenizer-training inner loop):
    * `iters` rounds of count-adjacent-symbol-pairs → pick the most
    * frequent → apply the merge, over the weighted word vocabulary.
    * Returns the top-`topk` pair statistics of each round (rank 1 is the
    * merge actually applied).
    *
    * Execution shape per round: pair counts are a map-side-combining
    * groupBy over the vocabulary (Heaps-law cardinality, never corpus-
    * sized); the winning pair is a 1-row broadcast that the merge
    * application cross-joins in — selection stays fully declarative, no
    * driver collect. Merge application is a literal single-pass
    * left-to-right space-bounded `replace` (' a b ' → ' ab '), identical
    * byte semantics on both engines — the one simplification vs classic
    * BPE is that an odd-length run of the same symbol merges
    * left-to-right in ONE pass (``a a a`` → ``aa a``), which is exactly
    * what both engines' non-overlapping replace does, so the fixpoint is
    * shared. The per-round report takes the global top-`topk` pairs with
    * TakeOrderedAndProject and ranks them by a broadcast self-join over
    * those ≤`topk` rows — no single-partition window anywhere, even
    * though the pair vocabulary itself is only Heaps-law-sized.
    */
  def bpeMerges(documents: DataFrame, iters: Int = 3, topk: Int = 5): DataFrame = {
    val vocabRaw = Parallelism.floor(documents)
      .select(explode(split(lower(col("text")), "[^a-z0-9]+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(col("n"), concat_ws(" ", split(col("w"), "")).as("rep"))
    val vocab0 =
      if (vocabRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE) vocabRaw.persist()
      else vocabRaw
    var cur = vocab0
    val rounds = (1 to iters).map { it =>
      val toks = split(col("rep"), " ")
      val pairExpr = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>"))
      // r19 optimization: persist each round's pair counts — the frame has
      // TWO consumers (the 1-row winning-merge broadcast and the top-k
      // report) and additionally re-derives inside every LATER round's
      // lineage through the broadcast(top1) chain, so without the cache
      // the round-i aggregate recomputes O(iters − i) times inside one
      // executed plan. Same persist-if-unpersisted idiom as the shingle
      // frames. CALLER CONTRACT (deliberate, r20-adjudicated): the op
      // leaves `iters + 1` cached frames (vocab + one pair-count frame per
      // round) for the returned plan to read; a long-lived session must
      // release them between invocations (the bench/verify harnesses call
      // SparkEntry.resetSessionState). An eager per-round
      // checkpoint-and-unpersist variant was measured ~2× slower warm at
      // sf0.1 (the checkpoint jobs cost more than the recompute they
      // save at iters = 3, and the caches serve repeated calls), so the
      // leak-free form was rejected on measurement.
      val pcRaw = cur
        .select(col("n"), explode(pairExpr).as("pair"))
        .groupBy("pair").agg(sum("n").as("cnt"))
      val pairCounts =
        if (pcRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
          pcRaw.persist()
        else pcRaw
      val top1 = pairCounts
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .select(col("pair").as("mp"))
      cur = cur.crossJoin(broadcast(top1))
        .select(col("n"),
          expr("trim(replace(' ' || rep || ' ', ' ' || mp || ' ', " +
            "' ' || replace(mp, ' ', '') || ' '))").as("rep"))
      // global top-k via TakeOrderedAndProject (distributed, no window);
      // ranks within the ≤topk survivors come from a broadcast self-join
      // (topk² pairs) — the report stage never funnels the pair
      // vocabulary through a single-partition window
      val top = pairCounts.orderBy(col("cnt").desc, col("pair")).limit(topk)
      top.as("g_a")
        .join(broadcast(top.as("g_b")),
          col("g_b.cnt") > col("g_a.cnt") ||
            (col("g_b.cnt") === col("g_a.cnt") && col("g_b.pair") < col("g_a.pair")),
          "left")
        .groupBy(col("g_a.pair"), col("g_a.cnt"))
        .agg((count(col("g_b.pair")) + lit(1L)).as("rnk"))
        .select(lit(it.toLong).as("iter"), col("rnk"), col("pair"),
          expr("replace(pair, ' ', '')").as("merged"), col("cnt"))
    }
    rounds.reduce(_ union _).orderBy("iter", "rnk")
  }

  /** BPE tokenizer APPLICATION — encode every document with the merges
    * [[bpeMerges]] learns and report per-doc token accounting (words,
    * chars, post-merge BPE tokens). This is the "what does the learned
    * tokenizer cost per document" half of tokenizer training: compression
    * below n_chars is exactly the merge coverage.
    *
    * Shape at scale: the learning loop runs over the Heaps-law vocabulary
    * (never corpus-sized); its `iters` winning merges collapse to ONE
    * broadcast row; encoding is then a narrow per-word map (literal
    * non-overlapping replace per merge, identical byte semantics on both
    * engines — see [[bpeMerges]]) followed by one doc-cardinality
    * aggregate. No shuffle touches full text.
    */
  def bpeEncode(documents: DataFrame, iters: Int = 3): DataFrame = {
    val m = bpeMerges(documents, iters, topk = 1)
    val mergeAggs = (1 to iters).map(i =>
      max(when(col("iter") === i, col("pair"))).as(s"mp$i"))
    val mergeRow = m.groupBy().agg(mergeAggs.head, mergeAggs.tail: _*)
    val words = Parallelism.floor(documents)
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z0-9]+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"), length(col("w")).cast("long").as("wc"),
        concat_ws(" ", split(col("w"), "")).as("rep"))
    val applied = (1 to iters).foldLeft(words.crossJoin(broadcast(mergeRow))) {
      (df, i) =>
        df.withColumn("rep",
          expr(s"trim(replace(' ' || rep || ' ', ' ' || mp$i || ' ', " +
            s"' ' || replace(mp$i, ' ', '') || ' '))"))
    }
    applied
      .select(col("doc_id"), col("wc"),
        size(split(col("rep"), " ")).cast("long").as("tc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("wc").as("n_chars"),
        sum("tc").as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Gopher-style quality RULE filter (Rae et al. 2021, the Appendix-A
    * hard-rule subset expressible over this corpus): per document,
    * pass/fail on word count in [minWords, maxWords], mean word length in
    * [3, 10] chars, stopword presence (≥ `stopMin` hits of a tiny English
    * stop list), and top-word dominance ≤ `maxTopBps` basis points of all
    * tokens — the rule-based sibling of the weighted [[qualityScore]].
    *
    * Shapes: token stats are narrow per-row map work; the top-word share
    * is explode → two map-side-combining aggregates → one doc-cardinality
    * join back. Every emitted metric is an exact integer or boolean
    * (mean length in centichars, dominance in bps) — engine-neutral by
    * construction, no float boundary to disagree on.
    */
  def gopherRules(
      documents: DataFrame,
      minWords: Int = 30,
      maxWords: Int = 100000,
      stopMin: Int = 1,
      maxTopBps: Int = 2000): DataFrame = {
    // persisted: the stats leg and the top-word leg prune DIFFERENT
    // columns of this frame, so without the cache each re-ran the text
    // scan + tokenize (r20; same persist-if-unpersisted idiom as the
    // shingle frames, released by resetSessionState)
    val baseRaw = documents
      .select(col("doc_id"),
        graft.functions.TextExpressions.alnumTokens(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        size(col("ws")).cast("long").as("n_words"),
        expr("aggregate(ws, 0L, (a, x) -> a + length(x))").as("n_chars"),
        size(expr("filter(ws, x -> x IN ('the', 'a', 'and', 'of', 'to'))"))
          .cast("long").as("n_stop"))
    val base =
      if (baseRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE) baseRaw.persist()
      else baseRaw
    val top = base
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_cnt"))
    base.drop("ws")
      .join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("n_stop"),
        when(col("n_words") > 0, expr("(n_chars * 100) div n_words"))
          .otherwise(0L).as("mean_len_c"),
        when(col("n_words") > 0,
          expr("(coalesce(top_cnt, 0L) * 10000) div n_words"))
          .otherwise(0L).as("top_bps"))
      .withColumn("r_words",
        col("n_words").between(minWords.toLong, maxWords.toLong))
      .withColumn("r_mean", col("mean_len_c").between(300L, 1000L))
      .withColumn("r_stop", col("n_stop") >= stopMin.toLong)
      .withColumn("r_top", col("top_bps") <= maxTopBps.toLong)
      .withColumn("passes",
        col("r_words") && col("r_mean") && col("r_stop") && col("r_top"))
      .orderBy("doc_id")
  }

  /** Temperature-scaled language mixture (the multilingual-pretraining
    * rebalance, α = 0.5): each language's sampling share is
    * `√n_l / Σ√n`, flattening the head-language skew, and the per-language
    * target count for a `budget`-doc draw is filled by deterministic
    * md5-hash rank. Cross-engine exactness: √n of an exact integer is a
    * single correctly-rounded IEEE op, but the Σ in the denominator is
    * float-order-sensitive — so each √n is quantized to a 1e-6 integer
    * grid FIRST and the total is summed as exact integers (the same
    * discipline as the k-means oracle). The groupBy is lang-cardinality;
    * the rank window shuffles one (doc_id, lang, hash) row per doc — no
    * full-text movement; targets broadcast.
    */
  def langTemperatureMixture(documents: DataFrame, budget: Int = 200): DataFrame = {
    val counts = documents.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("q",
        floor(sqrt(col("n_docs").cast("double")) * lit(1000000.0) + lit(0.5)).cast("long"))
    val tot = counts.agg(sum("q").as("q_tot"))
    val targets = counts.crossJoin(broadcast(tot))
      .withColumn("target",
        floor((col("q") * lit(budget.toLong)).cast("double") / col("q_tot").cast("double")
          + lit(0.5)).cast("long"))
      .select("lang", "n_docs", "target")
    val h = conv(substring(md5(col("doc_id").cast("string")), 25, 8), 16, 10)
      .cast("long")
    val w = Window.partitionBy("lang").orderBy(col("priority"), col("doc_id"))
    documents
      .select(col("doc_id"), col("lang"), h.as("priority"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .join(broadcast(targets), Seq("lang"))
      .filter(col("rnk") <= col("target"))
      .select(col("lang"), col("rnk"), col("doc_id"), col("n_docs"), col("target"))
      .orderBy("lang", "rnk")
  }

  def stratifiedSample(documents: DataFrame, perSource: Int = 5): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 25, 8), 16, 10)
      .cast("long")
    val w = Window.partitionBy("source").orderBy(col("priority"), col("doc_id"))
    documents
      .select(col("doc_id"), col("source"), h.as("priority"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= perSource)
      .select(col("source"), col("rnk"), col("doc_id"), col("priority"))
      .orderBy("source", "rnk")
  }

  /** Model-based quality scoring: mean negative log-probability of each
    * document's tokens under the corpus's own unigram distribution — the
    * cheap first rung of perplexity filtering (a doc of globally-rare
    * tokens scores high/surprising; boilerplate scores low). Two corpus
    * passes: one aggregate for term counts, one broadcast-or-shuffle join
    * back to score — the same shape as [[tfidfTopTerms]], no driver-side
    * vocabulary.
    *
    * Bit-exact discipline: −ln p(t) = ln N − ln cnt(t) is computed on a
    * 1e-6 integer grid per TERM before the per-doc summation
    * (`floor(ln·1e6 + 0.5)` as long), so the cross-row sum is exact
    * integer arithmetic — order-independent, immune to Spark/DuckDB
    * float-summation-order divergence (the [[Similarity.kmeansCentroids]]
    * trick applied to logs).
    */
  def unigramLogProb(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"),
      explode(graft.functions.TextExpressions.alnumTokens(col("text"))).as("term"))
    // counts feeds BOTH the total and the scoring join — persist the
    // vocabulary-sized aggregate so the corpus tokenizes twice, not 3×
    val countsRaw = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val counts =
      if (countsRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        countsRaw.persist()
      else countsRaw
    // corpus token total derived FROM the term counts — a vocabulary-sized
    // aggregate riding the plan as a 1-row broadcast frame, so ln N lands
    // on the same grid in both engines WITHOUT a driver action (the old
    // toks.count() here was a second full tokenize pass of the corpus at
    // plan-construction time)
    val tRow = counts.agg(sum("cnt").as("g_t"))
    val qLnN = floor(log(col("g_t").cast("double")) * lit(1e6) + lit(0.5)).cast("long")
    val qLnCnt = floor(log(col("cnt").cast("double")) * lit(1e6) + lit(0.5)).cast("long")
    toks
      .join(counts.withColumn("q", qLnCnt).select("term", "q"), Seq("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("q").as("sq"))
      .crossJoin(broadcast(tRow))
      .select(col("doc_id"), col("n_tokens"),
        round((qLnN * col("n_tokens") - col("sq")).cast("double")
          / lit(1e6) / col("n_tokens"), 6).as("avg_neg_logp"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary table with Zipf structure: per-word total count,
    * document frequency, frequency rank, and the cumulative share of the
    * corpus covered by the vocabulary up to that rank — the table a
    * tokenizer-training / vocab-truncation step reads ("the top r words
    * cover c% of all tokens"). One tokenize pass (codegen'd
    * `alnumTokens`), one hash aggregate over (word) with a map-side
    * combine — at 100 TB the shuffle carries one row per DISTINCT word,
    * not per token, which is the whole trick: vocabulary cardinality is
    * sublinear in corpus size (Heaps' law). Even so, a vocabulary is
    * ~10⁸ rows at extreme corpus scale — large enough that a global
    * `Window.orderBy` (one partition, one task) would straggle — so the
    * rank and running share come from [[Relational.rankedPrefix]]'s
    * two-pass distributed rank, and the corpus total is a 1-row
    * broadcast aggregate: no data-derived frame passes through a
    * single-partition window.
    */
  def wordFrequency(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"),
      explode(graft.functions.TextExpressions.alnumTokens(col("text"))).as("word"))
    val vocab = toks.groupBy("word")
      .agg(count(lit(1)).as("cnt"), countDistinct("doc_id").as("n_docs"))
    graft.ops.Relational
      .rankedPrefix(vocab, Seq(col("cnt").desc, col("word")), col("cnt"))
      .select(col("g_rank").as("rank"), col("word"), col("cnt"), col("n_docs"),
        round(col("g_prefix").cast("double") / col("g_total"), 6).as("cum_share"))
      .orderBy("rank")
  }

  /** Bigram conditional-probability table P(w2 | w1) — the 2-gram language
    * model a perplexity filter or a next-token baseline reads. Bigram
    * pairs come from the same zip-shift as [[graft.ops.Dedup.wordBigrams]];
    * context counts c(w1) are derived FROM the pair frame (sum of c(w1,w2)
    * over w2) rather than re-scanning the corpus, so the whole model is
    * one tokenize pass + two hash aggregates, shuffling bigram-vocabulary
    * rows only. The probability is a ratio of exact integer counts —
    * deterministic double division on both engines.
    */
  def bigramConditional(documents: DataFrame, minPair: Long = 3L): DataFrame = {
    val words = graft.functions.TextExpressions.alnumTokens(col("text"))
    val bigrams = zip_with(
      slice(words, lit(1), greatest(size(words) - 1, lit(0))),
      slice(words, lit(2), greatest(size(words) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    // pairs feeds BOTH the context aggregate and the probability join —
    // persist so the corpus tokenizes once (ngramJaccardNearDup idiom)
    val pairsRaw = documents
      .select(explode(bigrams).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val pairs =
      if (pairsRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        pairsRaw.persist()
      else pairsRaw
    val contexts = pairs.groupBy("w1").agg(sum("c12").as("c1"))
    pairs
      .join(contexts, Seq("w1"))
      .filter(col("c12") >= minPair)
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        round(col("c12").cast("double") / col("c1").cast("double"), 6).as("p"))
      .orderBy("w1", "w2")
  }

  /** Bigram-LM surprisal per document — the CCNet-style LM quality filter
    * one rung above [[unigramLogProb]]: score every document by its mean
    * negative log-probability under the corpus's OWN bigram model,
    * −(1/n)·Σ ln P(w2|w1) with P(w2|w1) = C(w1,w2)/C(w1·). Fluent,
    * repetitive text scores low (its word transitions are corpus-typical);
    * shuffled or noisy text scores high — the standard perplexity-bucket
    * signal for pretraining curation. Self-scoring means every observed
    * bigram has nonzero count, so no smoothing/backoff branch exists to
    * diverge between engines.
    *
    * Bit-exact discipline: each pair's −ln P = ln C(w1·) − ln C(w1,w2)
    * lands on the 1e-6 integer grid PER MODEL ROW (before the per-doc
    * sum), so cross-row summation is exact integer arithmetic; the final
    * mean divides two exact integers once. Shape: one persisted
    * per-occurrence pair frame, the [[bigramConditional]] model aggregates
    * (context counts derived from the pair counts — one corpus shuffle),
    * and a model join back to occurrences that AQE broadcasts while the
    * Heaps'-law vocabulary fits and hash-joins past it.
    */
  def bigramSurprisal(documents: DataFrame): DataFrame = {
    val words = graft.functions.TextExpressions.alnumTokens(col("text"))
    val bigrams = zip_with(
      slice(words, lit(1), greatest(size(words) - 1, lit(0))),
      slice(words, lit(2), greatest(size(words) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val occRaw = documents
      .select(col("doc_id"), explode(bigrams).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val occ =
      if (occRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        occRaw.persist()
      else occRaw
    val pairCnt = occ.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctxCnt = pairCnt.groupBy("w1").agg(sum("c12").as("c1"))
    def grid(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(log(x.cast("double")) * lit(1e6) + lit(0.5)).cast("long")
    val model = pairCnt.join(ctxCnt, Seq("w1"))
      .select(col("w1"), col("w2"), (grid(col("c1")) - grid(col("c12"))).as("nlp_q"))
    occ
      .join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("nlp_q").cast("long").as("sum_q"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_q").cast("double") / col("n_bigrams") / lit(1e6), 4)
          .as("surprisal"))
      .orderBy("doc_id")
  }

  /** Canonical text normalization — the preprocessing contract a dedup or
    * tokenizer stage keys on: lowercase, strip everything but [a-z0-9 ],
    * collapse whitespace runs, trim, then fingerprint the result. Pure
    * per-row map stage (no shuffle but the output sort); the md5 of the
    * NORMALIZED text is what exact-dedup at 100 TB actually hashes, so
    * near-identical whitespace/punct variants collapse. RE2-safe patterns
    * so the DuckDB oracle replays byte-for-byte.
    */
  def normalizeText(documents: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]+", " "),
      " +", " "))
    documents.select(
      col("doc_id"),
      norm.as("norm_text"),
      md5(norm).as("norm_hash"),
      length(norm).cast("long").as("norm_len"))
      .orderBy("doc_id")
  }

  /** Pointwise mutual information for adjacent word pairs — collocation
    * extraction (PMI = ln p(w1,w2) − ln p(w1) − ln p(w2); Church & Hanks
    * 1990). All five log terms go through the same 1e-6 integer grid as
    * [[unigramLogProb]] BEFORE the arithmetic, so the score is bit-exact
    * across engines. The two corpus totals (tokens, bigrams) ride the
    * plan as 1-row broadcast aggregate frames over the persisted
    * vocabulary aggregates — fully lazy; the rest is two hash aggregates
    * plus two vocabulary-sized joins.
    */
  def pmiCollocations(documents: DataFrame, minPair: Long = 5L): DataFrame = {
    def cached(df: DataFrame): DataFrame =
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.persist()
      else df
    val words = graft.functions.TextExpressions.alnumTokens(col("text"))
    val toks = documents.select(explode(words).as("term"))
    // both vocabulary aggregates feed a corpus total AND the scoring
    // joins — persist them so each corpus tokenize pass runs once
    val uni = cached(toks.groupBy("term").agg(count(lit(1)).as("c")))
    val bigrams = zip_with(
      slice(words, lit(1), greatest(size(words) - 1, lit(0))),
      slice(words, lit(2), greatest(size(words) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val pairs = cached(documents
      .select(explode(bigrams).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val qLn = (x: Column) => floor(log(x.cast("double")) * lit(1e6) + lit(0.5)).cast("long")
    // the corpus totals (tokens, bigrams) are 1-row broadcast aggregate
    // frames over the persisted vocabulary aggregates, cross-joined into
    // the plan — fully lazy, no driver action at plan-construction time.
    // greatest(_, 1): on an empty corpus both totals are degenerate;
    // ln(1)=0 keeps the (empty) result well-defined instead of NULL/-inf
    val n1Row = uni.agg(
      greatest(coalesce(sum("c"), lit(0L)), lit(1L)).as("g_n1"))
    val n2Row = pairs.agg(
      greatest(coalesce(sum("c12"), lit(0L)), lit(1L)).as("g_n2"))
    pairs
      .filter(col("c12") >= minPair)
      .join(uni.select(col("term").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("term").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(n1Row))
      .crossJoin(broadcast(n2Row))
      .select(col("w1"), col("w2"), col("c12"),
        round((qLn(col("c12")) + lit(2L) * qLn(col("g_n1")) - qLn(col("g_n2"))
          - qLn(col("c1")) - qLn(col("c2"))).cast("double") / lit(1e6), 6).as("pmi"))
      .orderBy("w1", "w2")
  }

  /** Per-document unigram entropy (nats): H = ln(n) − (Σ c·ln c)/n over
    * the document's token counts — the token-diversity quality signal
    * (boilerplate and keyword-stuffed spam score low). Uses the same
    * integer-grid log trick as [[unigramLogProb]]: ln of each integer
    * count is quantized to a 1e-6 grid BEFORE the weighted sum, making
    * the aggregation exact integer math and the result bit-identical
    * across engines regardless of summation order.
    */
  def unigramEntropy(documents: DataFrame): DataFrame = {
    val counts = documents
      .select(col("doc_id"),
        explode(graft.functions.TextExpressions.alnumTokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val qLn = (x: Column) => floor(log(x.cast("double")) * lit(1e6) + lit(0.5)).cast("long")
    counts
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_tokens"),
        sum(col("c") * qLn(col("c"))).as("sq"))
      .select(col("doc_id"), col("n_tokens"),
        round((qLn(col("n_tokens")) * col("n_tokens") - col("sq")).cast("double")
          / lit(1e6) / col("n_tokens"), 6).as("entropy_nats"))
      .orderBy("doc_id")
  }

  /** Typo-pair detection over the corpus vocabulary: word pairs at edit
    * distance exactly 1 — the spelling-normalization candidate list of a
    * text-cleaning pipeline. The quadratic is tamed the standard
    * blocked-similarity-join way: levenshtein(a,b)=1 requires the two
    * lengths to differ by at most 1 AND (for these block keys) a shared
    * first character OR one being a first-char deletion of the other —
    * so candidates come from an EQUI-join on (first_char) between
    * length-adjacent words, never an all-pairs cross. The vocabulary is
    * Heaps'-law sublinear in corpus size, and within-block work is
    * |block|², bounded by per-letter vocabulary — the same
    * bounded-bucket contract as the LSH generators ([[graft.ops.Dedup]]).
    * Pairs where the first char itself was edited are recovered by a
    * second equi-join on the SUFFIX block (rest of word), so coverage is
    * complete for distance-1 pairs.
    */
  def typoPairs(documents: DataFrame): DataFrame = {
    // ONE tokenization for all six join legs (3 blockings × 2 sides): the
    // vocabulary is Heaps'-law small, so persisting it trades a tiny cache
    // for five corpus re-scans. Same persist idiom as ngramJaccardNearDup:
    // a repeated call finds the live entry via storageLevel;
    // resetSessionState between queries releases it.
    val vocabRaw = documents
      .select(explode(graft.functions.TextExpressions.alnumTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(length(col("word")) >= 2)
    val vocab =
      if (vocabRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        vocabRaw.persist()
      else vocabRaw
    val suffix: Column => Column = w => substring(w, 2, 1000000)
    def leg(blockA: Column => Column, blockB: Column => Column): DataFrame = {
      val a = vocab.select(col("word").as("wa"), col("cnt").as("ca"),
        blockA(col("word")).as("blk"))
      val b = vocab.select(col("word").as("wb"), col("cnt").as("cb"),
        blockB(col("word")).as("blk"))
      a.join(b, Seq("blk"))
        .filter(col("wa") =!= col("wb"))
        .filter(abs(length(col("wa")) - length(col("wb"))) <= 1)
        .filter(levenshtein(col("wa"), col("wb")) === 1)
        .select(
          least(col("wa"), col("wb")).as("word_a"),
          greatest(col("wa"), col("wb")).as("word_b"),
          when(col("wa") < col("wb"), col("ca")).otherwise(col("cb")).as("cnt_a"),
          when(col("wa") < col("wb"), col("cb")).otherwise(col("ca")).as("cnt_b"))
    }
    // Complete cover of distance-1 pairs by edit position:
    //   edit at position >= 2 (sub/ins/del)  -> first chars equal (leg 1)
    //   substitution at position 1           -> suffixes equal    (leg 2)
    //   front insertion/deletion             -> one word IS the other's
    //                                           suffix             (leg 3)
    leg(w => substring(w, 1, 1), w => substring(w, 1, 1))
      .union(leg(suffix, suffix))
      .union(leg(suffix, w => w))
      .distinct()
      .orderBy("word_a", "word_b")
  }

  /** The BPE-ish tokenizer pattern shared by [[tokenStats]],
    * [[chunkDocuments]], and [[packSequences]] — letters runs, digit runs,
    * single punctuation. RE2-safe so the DuckDB oracle replays it.
    */
  val BpeTokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Sliding-window chunking: split each document's token stream into
    * fixed-size windows of `window` tokens advancing by `stride` (overlap
    * = window − stride) — the context-window preparation step of an LLM
    * pretraining pipeline (long docs become multiple training sequences;
    * overlap preserves cross-boundary context). Pure per-document map +
    * generate: tokens come from one `regexp_extract_all` pass, window
    * starts from `sequence(0, cnt-1, stride)`, chunks from `slice` —
    * posexplode fans out WITHOUT a shuffle, so this scales with the scan
    * (the only data movement is the output itself). Zero-token documents
    * produce zero chunks; the final chunk is the (possibly short) tail.
    */
  def chunkDocuments(
      documents: DataFrame,
      window: Int = 64,
      stride: Int = 48): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window for gap-free coverage")
    val toks = regexp_extract_all(col("text"), lit(BpeTokenRe), lit(0))
    documents
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("cnt", size(col("toks")))
      .filter(col("cnt") > 0)
      .select(
        col("doc_id"), col("toks"), col("cnt"),
        posexplode(sequence(lit(0), col("cnt") - 1, lit(stride)))
          .as(Seq("chunk_idx", "tok_start")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("tok_start").cast("long").as("tok_start"),
        least(lit(window), col("cnt") - col("tok_start")).cast("long").as("n_tokens"),
        array_join(slice(col("toks"), col("tok_start") + 1, lit(window)), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Sequence packing: concatenate documents in deterministic (source,
    * doc_id) order and cut the stream into fixed `budget`-token training
    * sequences — each doc gets the sequence id (`bin_id`) and offset
    * where it starts, plus a flag for docs straddling a cut. This is the
    * "concat-and-split" packing standard in LLM pretraining (no padding
    * waste, deterministic layout).
    *
    * The core is a running prefix sum of token counts per source. A
    * single `Window.partitionBy(source)` would funnel each source's
    * entire stream through ONE reducer — the classic window-at-scale
    * trap — so the prefix sum is hierarchical instead: (1) cumulative
    * sums within bounded `doc_id` range-shards, (2) a cumulative sum of
    * per-shard totals over the tiny (source, shard) table, (3) a
    * broadcast join adding each shard's base offset back. Identical
    * arithmetic to the naive window (the DuckDB oracle states it as one
    * flat window sum and hashes must match), but every partition is
    * bounded by `shardSize`, so the same plan runs at 100 TB.
    */
  def packSequences(
      documents: DataFrame,
      budget: Int = 2048,
      shardSize: Long = 256L): DataFrame = {
    require(budget > 0 && shardSize > 0)
    val nTok = size(regexp_extract_all(col("text"), lit(BpeTokenRe), lit(0))).cast("long")
    val base = documents
      .select(col("doc_id"), col("source"), nTok.as("n_tokens"))
      // `div` = integral division — a double-promoting `/` + floor would
      // shift shard boundaries past 2^53 (labels stay monotone either
      // way, but exactness is this file's stated rule)
      .withColumn("shard", expr(s"doc_id div ${shardSize}L"))
      // the inner join on (source, shard) below drops null keys anyway;
      // filtering HERE keeps both consumers' exchange subtrees identical
      // (otherwise the join infers IsNotNull on only one branch and
      // ReuseExchange can't fire — asserted by PlanShapeSpec)
      .filter(col("source").isNotNull && col("shard").isNotNull)
    // pass 1: running sum inside each bounded (source, shard) partition,
    // EXCLUSIVE of the current row (= token offset where this doc starts)
    val wShard = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = base.withColumn(
      "local_start", coalesce(sum("n_tokens").over(wShard), lit(0L)))
    // pass 2: shard base offsets. Derived from `local`, not `base`: the
    // last row of a shard has local_start + n_tokens == shard total (the
    // exclusive cumsum is monotone, so max == total), and hanging both
    // consumers off the SAME windowed child lets ReuseExchange serve the
    // scan + tokenization once — aggregating `base` directly would plant a
    // second full-corpus regexp pass (partial agg below its own exchange,
    // so the subtrees never match).
    val wSrc = Window.partitionBy("source").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("source", "shard")
      .agg(max(col("local_start") + col("n_tokens")).as("shard_total"))
      .withColumn("shard_base", coalesce(sum("shard_total").over(wSrc), lit(0L)))
      .select("source", "shard", "shard_base")
    // pass 3: global start = shard base + local start (broadcast join —
    // the offsets table has one row per shard, not per doc)
    local.join(broadcast(offsets), Seq("source", "shard"))
      .withColumn("start", col("shard_base") + col("local_start"))
      // `div` = integral division, exact at any scale (a double-promoting
      // `/` + floor would round past 2^53 tokens)
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        expr(s"start div ${budget}L").as("bin_id"),
        (col("start") % budget).as("bin_offset"),
        (col("n_tokens") > 0 &&
          expr(s"(start + n_tokens - 1) div ${budget}L > start div ${budget}L"))
          .as("spans_boundary"))
      .orderBy("doc_id")
  }

  /** Deterministic weighted sampling: draw `k` documents with inclusion
    * probability proportional to token count — the length-weighted
    * sampling a mixture builder uses when the unit of interest is tokens,
    * not documents. Each doc gets an integer priority `h·S / w` (h = a
    * stable 32-bit id hash, w = its weight): for a uniform h, P(priority
    * < t) ∝ t·w, so the k smallest priorities form a
    * weight-proportional sample — the Efraimidis–Spirakis reservoir
    * scheme with the `-ln(u)/w` key replaced by an integer-exact
    * equivalent, because ln/pow round differently across engines and
    * would break cross-engine hash parity (documented tradeoff: inclusion
    * is ∝w only to first order rather than exactly). Executes as
    * TakeOrderedAndProject — per-partition top-k then a k-row merge at
    * the driver, no global sort, no shuffle of the corpus.
    */
  def weightedSample(documents: DataFrame, k: Int = 50): DataFrame = {
    val nTok = size(regexp_extract_all(col("text"), lit(BpeTokenRe), lit(0))).cast("long")
    // hash chars 17-24: independent of the split/mixture/sample hashes,
    // so weighted draws don't correlate with held-out membership
    val h = conv(substring(md5(col("doc_id").cast("string")), 17, 8), 16, 10).cast("long")
    documents
      .select(col("doc_id"), col("source"), nTok.as("n_tokens"), h.as("h"))
      // `div` = integral division (Column./ would promote to double and
      // round; the DuckDB oracle's `//` is exact integer arithmetic)
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        expr("(h * 1000000L) div greatest(n_tokens, 1L)").as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(k)
      .orderBy("doc_id")
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every document
    * by how much more likely its hashed-ngram bag is under a TARGET
    * distribution than under the raw-corpus distribution, then keep the
    * top-k — the mixture-reweighting step between quality scoring
    * ([[qualityScore]]) and mixture sampling ([[mixtureSample]]). The
    * target here is the corpus's `lang = targetLang` slice (the "trusted
    * sample" a practitioner would supply); features are unigrams +
    * bigrams hashed into `buckets` buckets, Laplace-smoothed on both
    * sides, exactly the paper's recipe.
    *
    * score(doc) = Σ_occurrences [ln p_target(b) − ln p_raw(b)]
    *            = Σ_occ [ln(cnt_t(b)+1) − ln(cnt_r(b)+1)] + n_feats·C,
    * with C = ln(N_r+B) − ln(N_t+B) folded into each bucket weight. Every
    * ln lands on the 1e-6 integer grid BEFORE the per-doc sum (the
    * [[unigramLogProb]] discipline), so cross-row summation is exact
    * integer arithmetic on both engines.
    *
    * Selection is the paper's deterministic top-k variant (rank by score);
    * the Gumbel-kernel resampling alternative needs ln(−ln(u)) of a hash
    * draw, which no integer grid makes bit-exact across engines — with a
    * tolerance-based gate, swap the rank key for
    * `score_q + gumbel(h)·1e6`. Executes as one feature explode (persisted;
    * three consumers), two bucket aggregates with map-side combine (≤
    * `buckets` rows each — the model tables are broadcast-sized by
    * construction), a broadcast join back, and a TakeOrderedAndProject
    * top-k: the corpus shuffles once, on the feature-bucket aggregate.
    */
  def dsirScores(
      documents: DataFrame,
      targetLang: String = "en",
      buckets: Int = 256,
      k: Int = 100): DataFrame = {
    val ws = graft.functions.TextExpressions.alnumTokens(col("text"))
    val bigrams = zip_with(
      slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
      slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    val featsRaw = documents
      .select(col("doc_id"), col("lang"), col("source"),
        explode(concat(ws, bigrams)).as("f"))
      .select(col("doc_id"), col("lang"), col("source"),
        (conv(substring(md5(col("f")), 1, 8), 16, 10).cast("long") % buckets).as("b"))
    val feats =
      if (featsRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        featsRaw.persist()
      else featsRaw
    val rawCnt = feats.groupBy("b").agg(count(lit(1)).as("cnt_r"))
    val tgtCnt = feats.filter(col("lang") === targetLang)
      .groupBy("b").agg(count(lit(1)).as("cnt_t"))
    // corpus/target totals derived FROM the ≤`buckets`-row model
    // aggregates, riding the plan as 1-row broadcast frames — ln(N+B)
    // lands on the grid in-plan on both engines, with no driver-side
    // count jobs at plan-construction time
    val nRow = rawCnt.agg(coalesce(sum("cnt_r"), lit(0L)).as("g_nr"))
    val tRow = tgtCnt.agg(coalesce(sum("cnt_t"), lit(0L)).as("g_nt"))
    def grid(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      floor(log(x.cast("double")) * lit(1e6) + lit(0.5)).cast("long")
    val c = grid(col("g_nr") + lit(buckets.toLong)) -
      grid(col("g_nt") + lit(buckets.toLong))
    // target buckets ⊆ raw buckets (same corpus), so a left join covers
    // every bucket a document can hash into
    val bucketW = rawCnt.join(tgtCnt, Seq("b"), "left")
      .crossJoin(broadcast(nRow))
      .crossJoin(broadcast(tRow))
      .select(col("b"),
        (grid(coalesce(col("cnt_t"), lit(0L)) + 1) - grid(col("cnt_r") + 1) + c)
          .as("wq"))
    feats
      .join(broadcast(bucketW), Seq("b"))
      .groupBy("doc_id", "lang", "source")
      .agg(count(lit(1)).as("n_feats"), sum(col("wq")).cast("long").as("score_q"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_feats"),
        col("score_q"), round(col("score_q") / lit(1e6), 4).as("score"))
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(k)
      .orderBy("doc_id")
  }

  /** Rabin-Karp rolling-hash parameters: h(i) = Σ_j code(text[i+j])·B^j
    * mod P over a k-char window. Powers are precomputed and embedded as
    * literals on both engines so the arithmetic replays exactly.
    */
  val RkK = 8
  val RkP = 1000000007L
  val RkB = 257L
  lazy val rkPowers: Array[Long] = Array.iterate(1L, RkK)(x => x * RkB % RkP)

  /** Rolling-hash document fingerprint (winnowing-style): the Rabin-Karp
    * hash at every window position, reduced to the global minimum plus
    * per-quarter minima — a compact, alignment-robust sketch (shared
    * substrings keep their window hashes wherever they move, so shifted
    * copies still collide on the minima). One narrow map stage per doc.
    */
  def rollingFingerprint(documents: DataFrame): DataFrame = {
    // Native codegen'd expression: all five minima in one primitive loop
    // per row (graft.functions.TextExpressions.RollingFingerprintExpr).
    // The previous HOF formulation (transform(sequence(...)) over a
    // materialized code array) computed the same values but interpreted —
    // one boxed lambda call per window position; the native loop is the
    // same O(len·k) with zero per-position allocation. The struct is
    // materialized in its own projection, then fields are extracted from
    // the attribute — never re-evaluating the loop per output column.
    val withFp = documents.select(
      col("doc_id"),
      graft.functions.TextExpressions
        .rollingFingerprint(col("text"), RkK, RkP, RkB).as("fp"))
    withFp
      .select(
        col("doc_id"),
        col("fp.rk_min").as("rk_min"),
        col("fp.q0").as("q0"), col("fp.q1").as("q1"),
        col("fp.q2").as("q2"), col("fp.q3").as("q3"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: md5 of the whitespace-normalized lowercase
    * text (exact-dup key), a 16-hex-char prefix fingerprint, and a prefix
    * "rolling" fingerprint of the first 64 normalized chars (cheap
    * clustering key for prefix-duplicates).
    */
  def fingerprint(documents: DataFrame): DataFrame = {
    val norm = regexp_replace(lower(col("text")), "\\s+", " ")
    documents
      .select(
        col("doc_id"),
        md5(norm).as("fp_full"),
        substring(md5(norm), 1, 16).as("fp_short"),
        md5(substring(norm, 1, 64)).as("fp_prefix64"))
      .orderBy("doc_id")
  }

  /** Fixed query set for [[bm25TopK]]'s registered form — terms drawn
    * from the synthetic corpus vocabulary so every query matches.
    */
  val Bm25Queries: Seq[(Long, String)] = Seq(
    (1L, "spark shuffle join fast"),
    (2L, "window agg merge table"),
    (3L, "customer data scan"))

  /** BM25 lexical top-k retrieval (Robertson/Spärck Jones; k1 = 1.2,
    * b = 0.75) — the LEXICAL leg of hybrid retrieval, complementing the
    * dense ANN suite ([[Similarity.rrfFusion]] fuses rankings of this
    * shape). Plan: one tokenize pass; tf/df/dl aggregates (the shuffles
    * carry (doc, term)- and vocabulary-cardinality rows, never the
    * corpus text); query terms join the postings (query set is tiny →
    * broadcast); per-query top-k is a WindowGroupLimit-able rank.
    *
    * Bit-exact discipline: k1 and b are rationals (6/5, 3/4), so the
    * whole tf-saturation weight is EXACT integer arithmetic after
    * multiplying through by 10·T (T = corpus token total):
    * w = 22·tf·T / (10·T·tf + 3·T + 9·N·dl). Only the idf takes the
    * 1e-6 integer-grid ln snap (the [[unigramLogProb]] trick), and each
    * (term, doc) contribution is an exact integer floor-division on
    * that grid — so scores, and therefore RANKS, are engine-identical;
    * top-k never flaps on float ties. Magnitude bound: the products run
    * in DECIMAL(38,0) (DuckDB: HUGEINT — both exact 128-bit-class
    * integer arithmetic), so the numerator idf·22·tf·T ≤ 3e7·22·tf·T
    * must stay under 1e38: with per-doc tf ≤ 1e6 that holds to corpora
    * of ~1e24 tokens — comfortably past the 100 TB (~2e13-token) design
    * point, and far past the old all-BIGINT form's ~1e7-token bound.
    * Each contribution after the division is ≤ 2.2·idf_grid < 2^63, so
    * the per-(query, doc) SUM is back in exact BIGINT. Overflow beyond
    * the decimal cap fails loudly under ANSI mode, never wraps.
    */
  /** The exact (term, doc) BM25 contribution over columns `q_idf`, `tf`,
    * `g_t`, `g_n`, `dl` — DECIMAL(38,0) products (exact to 1e38, loud
    * ANSI failure beyond) floor-divided back to BIGINT. Factored out so
    * the overflow-boundary spec drives it with 100 TB-scale magnitudes.
    */
  private[graft] def bm25Contrib: Column = expr(
    "(cast(q_idf as decimal(38,0)) * 22 * tf * g_t) div " +
      "(cast(10 as decimal(38,0)) * g_t * tf + " +
      "cast(3 as decimal(38,0)) * g_t + cast(9 as decimal(38,0)) * g_n * dl)")

  def bm25TopK(documents: DataFrame, k: Int = 10): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val toks = Parallelism.floor(documents).select(col("doc_id"),
      explode(graft.functions.TextExpressions.alnumTokens(col("text"))).as("term"))
    // tf is the single tokenize pass; dl, df, and the corpus-total scalar
    // all derive FROM it (persisted — 4 readers), so the corpus text is
    // scanned once per materialization and the op stays fully lazy: N
    // and T are 1-row broadcast aggregate frames cross-joined into the
    // plan (the pageRankFromPairs scalar idiom), not driver-side actions
    // executed at plan-construction time.
    val tfRaw = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val tf =
      if (tfRaw.storageLevel == org.apache.spark.storage.StorageLevel.NONE) tfRaw.persist()
      else tfRaw
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val nRow = documents.agg(count(lit(1)).as("g_n"))
    val tRow = tf.agg(sum("tf").as("g_t"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qidf = dfreq.crossJoin(broadcast(nRow)).select(col("term"),
      floor(log((col("g_n").cast("double") - col("df") + lit(0.5))
        / (col("df") + lit(0.5)) + lit(1.0)) * lit(1e6) + lit(0.5))
        .cast("long").as("q_idf"))
    val qterms = Bm25Queries.toDF("query_id", "qtext")
      .select(col("query_id"),
        explode(graft.functions.TextExpressions.alnumTokens(col("qtext"))).as("term"))
      .distinct()
    val contrib = bm25Contrib
    val scores = broadcast(qterms)
      .join(tf, "term")
      .join(dl, "doc_id")
      .join(qidf, "term")
      .crossJoin(broadcast(tRow))
      .crossJoin(broadcast(nRow))
      .select(col("query_id"), col("doc_id"), contrib.as("c"))
      .groupBy("query_id", "doc_id")
      .agg(sum("c").as("score_grid"), count(lit(1)).as("n_terms"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_grid").desc, col("doc_id"))
    scores
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_grid"), col("n_terms"))
      .orderBy("query_id", "rank")
  }
}
