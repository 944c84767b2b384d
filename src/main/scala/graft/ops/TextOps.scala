package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/**
 * Text-analysis operators for training-data pipelines (north-star extension,
 * BASELINE.json): language ID, quality scoring, token counting, fingerprinting.
 * Everything is a Catalyst expression (codegen'd, no UDFs) and deliberately
 * DuckDB-expressible so the correctness oracle can replay it in SQL.
 */
object TextOps {

  /** Per-language stopword marker lists for the n-gram/stopword language-ID
    * heuristic. Deterministic, tiny, and SQL-replicable. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und"),
    "fr" -> Seq("le", "la", "les", "et"),
    "es" -> Seq("el", "los", "y", "que"))

  /** Count of tokens that appear in `markers` (native hash-set probe — the
    * `filter`+`isin` HOF formulation is CodegenFallback, interpreted per token). */
  private def markerHits(toks: Column, markers: Seq[String]): Column =
    count_in_set(toks, markers)

  /**
   * Language-ID heuristic: argmax of stopword-marker hits, first-listed language
   * wins ties (array_position returns the first max), "und" when no marker hits.
   * The deterministic tie-break makes it hash-stable against the SQL oracle.
   * Hot pipelines should materialize the token array once and call
   * [[langIdFromTokens]] — the convenience form re-derives it from text.
   */
  def langId(text: Column): Column = langIdFromTokens(tokens(lower(text)))

  /** Argmax form over a pre-tokenized (lowercased) token array. The explicit
    * null branch matters beyond semantics (null text → null language):
    * without it, Spark's `ElementAt` over the constant name array reports
    * nullable=false despite the nullable index, and a null row NPEs inside
    * the optimizer's interpreted projection (ConvertToLocalRelation). */
  def langIdFromTokens(toks: Column): Column = {
    val scoresArr = array(langMarkers.map { case (_, ms) => markerHits(toks, ms) }: _*)
    val names = array(langMarkers.map { case (l, _) => lit(l) }: _*)
    val maxS = array_max(scoresArr)
    when(toks.isNull, lit(null).cast("string"))
      .when(maxS <= 0, lit("und"))
      .otherwise(element_at(names, array_position(scoresArr, maxS).cast("int")))
  }

  /**
   * Quality score in [0,1]: 0.4·length score (chars/500 capped) + 0.3·stopword
   * ratio (capped at 3×) + 0.3·vocabulary diversity (distinct/total tokens).
   * Deterministic per-row double arithmetic → identical in Spark and DuckDB.
   */
  def qualityScore(text: Column): Column = {
    val toks = tokens(lower(text))
    val n = size(toks).cast("double")
    val stop = markerHits(toks, langMarkers.flatMap(_._2)).cast("double")
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val stopScore = least(stop / greatest(n, lit(1.0)) * 10.0, lit(1.0))
    val diversity = when(n === 0, 0.0)
      .otherwise(size(array_distinct(toks)).cast("double") / n)
    round(lenScore * 0.4 + stopScore * 0.3 + diversity * 0.3, 6)
  }

  /** Normalization for dedup preprocessing: lowercase, strip non-alphanumerics
    * to spaces, collapse whitespace. Run before shingling so near-dup detection
    * ignores case/punctuation noise (the usual first stage of a corpus dedup). */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Whitespace token count (see GraftFunctions.tokens for the exact contract). */
  def tokenCount(text: Column): Column = token_count(text)

  /** BPE-ish subword count: whitespace tokens further split into ≤4-char pieces. */
  def subwordCount(text: Column): Column = size(subword_tokens(text))

  /** Content fingerprint: hex MD5 (cross-engine stable). */
  def fingerprint(text: Column): Column = fingerprint_md5(text)

  /** Rolling Karp–Rabin fingerprint (for shingle-window fingerprinting pipelines). */
  def rollingFingerprint(text: Column): Column = rolling_hash(text)

  /** Full document profile: one pass, all text metrics. */
  def profile(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      langId(col(textCol)).as("lang_pred"),
      qualityScore(col(textCol)).as("quality"),
      token_count(col(textCol)).as("n_tokens"),
      fingerprint_md5(col(textCol)).as("fp"))

  /**
   * Gopher-style repetition profile, entirely per-row — ZERO shuffle. For each
   * document: `top2gram_frac` = occurrences of the most frequent word 2-gram /
   * total 2-gram occurrences (native `max_multiplicity` over hashed grams —
   * the explode→groupBy formulation would shuffle every gram occurrence of a
   * 100 TB corpus; this moves only per-document scalars), and `dup3gram_frac`
   * = fraction of 3-gram occurrences that are repeats. High values flag
   * boilerplate/spam for quality filtering. Short docs follow the shingle
   * contract (len < n ⇒ one whole-text shingle ⇒ frac 1.0 with itself — filter
   * on `n_2grams` downstream if that matters).
   */
  def repetitionProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val raw = split(col(textCol), " ")
    df.select(
        col(idCol),
        shingle_hashes(raw, 2).as("g2"),
        shingle_hashes(raw, 3).as("g3"))
      .select(
        col(idCol),
        size(col("g2")).cast("bigint").as("n_2grams"),
        round(max_multiplicity(col("g2")).cast("double") / size(col("g2")), 6)
          .as("top2gram_frac"),
        round(lit(1.0) - size(array_distinct(col("g3"))).cast("double") / size(col("g3")), 6)
          .as("dup3gram_frac"))
  }

  /**
   * Corpus-trained bigram language-model quality score (the CCNet/KenLM-style
   * perplexity filter, relationally): train add-k-smoothed bigram
   * probabilities on the corpus itself, then score every document by its
   * average bigram log-probability. Boilerplate and in-distribution text
   * scores high; rare-token noise scores low.
   *
   *   P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V)
   *
   * with c(w1·) = occurrences of w1 as a bigram prefix and V = vocabulary
   * size. Shapes for 100 TB: tokens hash to 64 bits in one string-touching
   * pass (bigram keys are 16-byte long pairs — text never shuffles), counts
   * are partial-agg'd groupBys on ~uniform hash keys, V rides along as a
   * broadcast scalar, and the score join streams the bigram occurrences
   * against the (much smaller) distinct-bigram model.
   *
   * Cross-engine determinism: each distinct bigram's log-prob is quantized to
   * an integer (round(ln·1e9)). Measured JVM-vs-DuckDB ln disagreement is
   * ≤1 ulp on ~1e-4 of inputs; the quantization grid absorbs it except in the
   * residual case where a log-prob lands within 1 ulp of a .5e-9 rounding
   * boundary and the two engines quantize to adjacent integers — an
   * astronomically rare tie that round(avg, 6) further masks but cannot fully
   * rule out. The per-document SUM of the quantized values is an integer
   * sum — exact under any partitioning or summation order. Docs with <2
   * tokens have no bigrams and are excluded.
   * Returns (id, n_bigrams, avg_logprob).
   */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
      addK: Double = 1.0): DataFrame = {
    val th = token_hashes(tokens(lower(col(textCol))))
    val base = df.select(col(idCol).as("id"), th.as("th"))
      .where(size(col("th")) >= 2)
    // consecutive-position pairs: zip the array against its own 1-shift.
    // Persisted (three consumers: both count tables + the scoring join);
    // the result materializes eagerly so the cache releases on return
    // (graft.Eager contract).
    val bigramsRaw = base.select(col("id"),
        explode(arrays_zip(
          slice(col("th"), lit(1), size(col("th")) - 1).as("w1"),
          slice(col("th"), lit(2), size(col("th")) - 1).as("w2"))).as("b"))
      .select(col("id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    graft.Eager.withPersisted(bigramsRaw) { bigrams =>
      val cBi = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val cPre = bigrams.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val vocab = base.select(explode(col("th")).as("w"))
        .agg(count_distinct(col("w")).as("v"))
      val model = cBi.join(cPre, "w1").crossJoin(broadcast(vocab))
        .select(col("w1"), col("w2"),
          round(log((col("c12") + addK) / (col("c1") + col("v") * addK)) * 1e9, 0)
            .cast("long").as("qlp"))
      bigrams.join(model, Seq("w1", "w2"))
        .groupBy(col("id"))
        .agg(sum(col("qlp")).as("s"), count(lit(1)).as("n_bigrams"))
        .select(col("id").as(idCol), col("n_bigrams"),
          round(col("s").cast("double") / (col("n_bigrams") * 1e9), 6).as("avg_logprob"))
    }
  }

  /** Email pattern shared by [[redactPII]] and its oracle (kept RE2-safe:
    * no backrefs/lookarounds, so Java regex and DuckDB agree). */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Long digit runs (ids, phone fragments, account numbers). */
  val longNumberRe = "[0-9]{7,}"

  /**
   * Blocklist gate report — the C4 "bad words" rule (a document is DROPPED
   * if any token, lowercased, is on the blocklist) as a per-source audit:
   * (source, n_docs, n_dropped, n_kept, drop_permille). The gate itself is
   * a per-row token-set intersection — zero shuffle, scan-bandwidth; the
   * report is one count(*)-cost rollup. Pair with [[blocklistSurvivors]]
   * for the cleaned corpus. Integer permille (floor) — replays exactly.
   *
   * At 100 TB the blocklist is a broadcast literal (hundreds of terms);
   * token-granular matching deliberately avoids substring false positives
   * (the classic "Scunthorpe" failure of naive contains-matching).
   */
  def blocklistReport(df: DataFrame, sourceCol: String, textCol: String,
      blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist gates nothing")
    // tokens are lowercased, so the list must be too — a mixed-case entry
    // would otherwise silently never match (round-9 review finding)
    val hit = count_in_set(tokens(lower(col(textCol))),
      blocklist.map(_.toLowerCase)) > 0
    df.select(col(sourceCol).as("source"), hit.cast("long").as("__d"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__d")).as("n_dropped"))
      .select(col("source"), col("n_docs"), col("n_dropped"),
        (col("n_docs") - col("n_dropped")).as("n_kept"),
        expr("(1000 * n_dropped) div n_docs").as("drop_permille"))
  }

  /** The kept side of [[blocklistReport]]'s gate: documents with NO
    * blocklisted token. Same per-row predicate — zero shuffle. */
  def blocklistSurvivors(df: DataFrame, textCol: String,
      blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist gates nothing")
    df.where(count_in_set(tokens(lower(col(textCol))),
      blocklist.map(_.toLowerCase)) === 0)
  }

  /**
   * PII redaction for training corpora: replace emails and 7+-digit runs with
   * typed placeholder tokens. Pure per-row `regexp_replace` chain — codegen'd,
   * zero shuffle, scales with scan bandwidth. Patterns are deliberately
   * RE2-compatible so the oracle replays them verbatim in DuckDB.
   */
  def redactPII(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailRe, "<EMAIL>"),
      longNumberRe, "<NUM>")

  /**
   * Train/test contamination report: for every test document, how many of its
   * distinct word n-gram shingles also occur anywhere in the train split.
   * The mechanism of Brown/GPT-3-style decontamination audits, Spark-first:
   * one string-touching pass hashes shingles to 64 bits, the train side
   * collapses to DISTINCT shingle hashes, and the probe is an equi-join on
   * uniform longs (skew-free by construction; only 8-byte keys shuffle — never
   * text). This exact join is the oracle-checkable form;
   * [[contaminationBloom]] is the 100 TB fast path (bloom pre-compression of
   * the train side, bounded false-positive overcount). Returns
   * (id, n_shingles, n_contaminated, contamination_rate).
   */
  def contamination(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3): DataFrame = {
    def hashed(d: DataFrame) = hashedShingleSets(d, idCol, textCol, shingleSize)
    val trainSh = hashed(train).select(explode(col("th")).as("s")).distinct()
    // persisted: sizes + probe branches both consume the test shingling scan;
    // eager result so the cache releases on return (graft.Eager contract)
    graft.Eager.withPersisted(hashed(test)) { testH =>
      val hits = testH.select(col("id"), explode(col("th")).as("s"))
        .join(trainSh, Seq("s"), "left_semi")
        .groupBy(col("id")).agg(count(lit(1)).as("n_contaminated"))
      assemble(testH, hits, idCol)
    }
  }

  /**
   * [[contamination]]'s 100 TB fast path: the train split compresses into ONE
   * bloom filter instead of a distinct-shingle table. Why it matters at
   * scale: the exact form shuffles the train side's distinct shingles (a
   * table comparable to the corpus itself) into a join; here the train side
   * is ONE scan → per-partition bloom buffers → a single ~`numBits/8`-byte
   * blob (no pre-distinct pass — bloom insertion is idempotent), and the
   * probe is a codegen'd per-row predicate, so the test side never shuffles
   * its shingles at all. The blob is driver-collected once and shipped in
   * the task binary — bounded by `spark.sql.optimizer.runtime.bloomFilter.
   * maxNumBits` (8 MB default), the same bounded-collect contract as
   * `Similarity`'s k×dim centroids.
   *
   * Accuracy contract: `n_contaminated` OVERCOUNTS by the filter's
   * false-positive rate (never undercounts — bloom filters have no false
   * negatives), so `contamination_rate` is an upper bound: exactly the safe
   * direction for a decontamination audit (flags a superset for the exact
   * pass or for removal). Size `expectedItems` to the train split's distinct
   * shingle count; the spec bounds the measured overcount against the exact
   * operator. Returns (id, n_shingles, n_contaminated, contamination_rate).
   */
  def contaminationBloom(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3,
      expectedItems: Long = 4000000L, fpp: Double = 0.01): DataFrame = {
    val bloom = trainBloom(train, idCol, textCol, shingleSize, expectedItems, fpp)
    graft.Eager.withPersisted(
        hashedShingleSets(test, idCol, textCol, shingleSize)) { testH =>
      val hits = testH.select(col("id"), explode(col("th")).as("s"))
        .where(bloom_might_contain(bloom, col("s")))
        .groupBy(col("id")).agg(count(lit(1)).as("n_contaminated"))
      assemble(testH, hits, idCol)
    }
  }

  /** One bloom blob over the train split's shingle hashes — the shared build
    * of [[contaminationBloom]] and [[contaminationBloomFlags]]. */
  private[graft] def trainBloom(train: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, expectedItems: Long, fpp: Double): Array[Byte] = {
    require(!train.isStreaming,
      "the train split must be a BATCH frame: its bloom blob is built once, " +
        "eagerly, at construction time (an evolving train set needs a rebuilt " +
        "filter and a restarted stream)")
    require(expectedItems > 0 && fpp > 0 && fpp < 1)
    // optimal bit count for the target FPR: -n·ln(p)/ln(2)²
    val numBits = math.ceil(
      -expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    // BloomFilterAggregate silently CLAMPS both sizing params to the
    // session's runtime bloom-filter caps; past them the realized
    // false-positive rate blows through `fpp` with no signal (overcount-only
    // still holds — the degraded filter just overcounts more). Warn loudly
    // instead of failing: a 100 TB caller may accept the degraded rate, but
    // must be able to see it happened (round-7 advisory, mirroring the
    // Eager.checkpointed loud-warning pattern).
    val rc = train.sparkSession.conf
    val maxItems = rc.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = rc.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    if (expectedItems > maxItems || numBits > maxBits)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"trainBloom: expectedItems=$expectedItems / numBits=$numBits " +
          s"exceed the session caps (maxNumItems=$maxItems, maxNumBits=$maxBits); " +
          s"Spark clamps the aggregate silently, so the realized false-positive " +
          s"rate will exceed fpp=$fpp (counts remain an overcount-only upper " +
          s"bound). Raise spark.sql.optimizer.runtime.bloomFilter.maxNumItems/" +
          s"maxNumBits to honor the requested sizing.")
    hashedShingleSets(train, idCol, textCol, shingleSize)
      .select(explode(col("th")).as("s"))
      .agg(bloom_filter_agg(col("s"), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /**
   * Per-row contamination flags against a STATIC train split — the stateless
   * form of [[contaminationBloom]] built for ingest streams (but equally
   * valid on batch frames): the train side compresses once, at CONSTRUCTION
   * time, into a single bloom blob shipped in the task binary; each arriving
   * row then probes its own shingle set in place. No shuffle, no state, no
   * watermark — a streaming plan stays stateless, so the operator runs at
   * ingest bandwidth on an unbounded feed. The per-row probe is the native
   * `count_in_bloom` (one long-probe per shingle in a tight loop, blob
   * deserialized once per task) — the interpreted `filter` HOF it replaced
   * walked a lambda per element in the one operator whose contract is
   * scan-bandwidth throughput. Counts OVERCOUNT by the bloom FPR (never
   * undercount). Appends (n_shingles, n_contaminated) to the input rows.
   */
  def contaminationBloomFlags(docs: DataFrame, train: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3,
      expectedItems: Long = 4000000L, fpp: Double = 0.01): DataFrame = {
    // append contract: the output columns must not silently clobber caller
    // data (a re-screen of a prior contamination pass's output would lose
    // its first-pass counts) — fail analysis-time instead
    Seq("n_shingles", "n_contaminated", "__graft_th").foreach { c =>
      require(!docs.columns.contains(c),
        s"contaminationBloomFlags: input already has a '$c' column — rename it " +
          "(the operator appends n_shingles/n_contaminated)")
    }
    val bloom = trainBloom(train, idCol, textCol, shingleSize, expectedItems, fpp)
    docs
      .withColumn("__graft_th",
        array_distinct(shingle_hashes(split(col(textCol), " "), shingleSize)))
      .withColumn("n_shingles", size(col("__graft_th")).cast("bigint"))
      .withColumn("n_contaminated",
        count_in_bloom(col("__graft_th"), bloom).cast("bigint"))
      .drop("__graft_th")
  }

  /**
   * Per-document novelty profile: what fraction of a document's distinct
   * word n-gram shingles occur NOWHERE else in the corpus. Low novelty
   * flags boilerplate/template documents (their text is mostly shared);
   * high novelty marks unique content worth keeping — the corpus-level
   * companion to [[repetitionProfile]]'s within-document signal, and the
   * aggregate form of what the dedup family detects pairwise.
   *
   * Shape for 100 TB: one string-touching pass hashes shingles to 64 bits;
   * the document-frequency table is a partial-agg'd groupBy on uniform hash
   * keys; the probe joins 8-byte keys only (text never shuffles). Returns
   * (id, n_shingles, n_unique, novelty_rate).
   */
  def noveltyProfile(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame = {
    // persisted: the df-count branch and the per-doc probe both consume the
    // shingling scan; eager (small, per-doc) result releases the cache on
    // return (graft.Eager contract)
    graft.Eager.withPersisted(
        hashedShingleSets(df, idCol, textCol, shingleSize)
          .select(col("id"), explode(col("th")).as("s"))) { inv =>
      val dfreq = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
      inv.join(dfreq, "s")
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .select(col("id").as(idCol), col("n_shingles"), col("n_unique"),
          round(col("n_unique").cast("double") / col("n_shingles"), 6)
            .as("novelty_rate"))
    }
  }

  /**
   * Context-window chunking: split each document's token stream into
   * consecutive `chunkTokens`-token windows — the sequence-preparation step
   * between cleaning and tokenizer/packing stages of a training pipeline
   * (the final chunk keeps the remainder; zero-token documents emit no
   * chunks). Pure per-row computation: tokenize once, build the window
   * slices inside the row, `posexplode` — no shuffle, no state; at 100 TB
   * the operator runs at scan bandwidth and composes with pushdown.
   * Returns (id, chunk_idx, n_tokens, chunk_text).
   */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 128): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    df.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("id"),
        posexplode(transform(
          sequence(lit(0), ((size(col("toks")) - 1) / chunkTokens).cast("int")),
          i => slice(col("toks"), i * chunkTokens + 1, lit(chunkTokens))))
          .as(Seq("chunk_idx", "chunk")))
      .select(col("id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
        size(col("chunk")).cast("bigint").as("n_tokens"),
        concat_ws(" ", col("chunk")).as("chunk_text"))
  }

  /**
   * Cross-document line-level boilerplate removal (the C4 cleaning rule:
   * drop every line whose verbatim content recurs across the corpus —
   * cookie banners, nav menus, "all rights reserved" footers — and keep the
   * rest of the document intact, in order). A line is dropped when it
   * appears in ≥ `maxDf` DISTINCT documents; C4's original rule counts raw
   * occurrences, but distinct-docs is the robust form (a page repeating its
   * own header 100× is repetition — [[repetitionProfile]]'s domain — not
   * corpus boilerplate) and is what we cap everywhere else (`maxDf` in the
   * shingle family).
   *
   * 100 TB shape: text never shuffles. Lines reduce at the scan to
   * (doc, pos, 60-bit md5) triples; the document-frequency table lives on
   * hash keys; only DROPPED (doc, pos) pairs travel back, and the splice is
   * an in-row indexed filter over the re-split text (the [[Dedup.cutSharedSpans]]
   * discipline: untouched docs — the overwhelming majority — pass through
   * VERBATIM on the left-join miss, paying zero reassembly). `sep` is taken
   * literally (regex-quoted for the split, byte-identical in the re-join, so
   * split→filter→join is lossless). NULL text passes through NULL with
   * zero counts. Returns (idCol, textCol cleaned, n_lines, n_dropped).
   */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      maxDf: Int = 10, sep: String = "\n"): DataFrame = {
    require(maxDf >= 2, "maxDf must be at least 2 (1 would drop every line)")
    require(sep.nonEmpty, "sep must be non-empty")
    val parts = split(col(textCol), lit(java.util.regex.Pattern.quote(sep)))
    val lines = df
      .select(col(idCol).as("__bid"), posexplode(parts).as(Seq("pos", "line")))
      .select(col("__bid"), col("pos"), md5_prefix60(col("line")).as("h"))
    val boiler = lines.groupBy(col("h"))
      .agg(countDistinct(col("__bid")).as("ldf"))
      .where(col("ldf") >= maxDf)
      .select(col("h"))
    val dropped = lines.join(boiler, Seq("h"), "left_semi")
      .groupBy(col("__bid"))
      .agg(collect_set(col("pos")).as("__drop_pos"),
        count(lit(1)).as("__n_dropped"))
    df.join(dropped, df(idCol) === dropped("__bid"), "left")
      .select(df(idCol),
        when(col("__drop_pos").isNull, col(textCol))
          .otherwise(concat_ws(sep,
            filter(parts, (_, i) => !array_contains(col("__drop_pos"), i))))
          .as(textCol),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(parts).cast("bigint")).as("n_lines"),
        coalesce(col("__n_dropped"), lit(0L)).as("n_dropped"))
  }

  /**
   * Budget-based sequence packing, concat-then-cut discipline: within each
   * stratum, documents concatenate in id order and cut every `budgetTokens`
   * tokens; a document belongs to the pack where it STARTS. This is the
   * deterministic, fully-relational packing rule (true greedy bin packing is
   * order-sequential and engine-hostile; concat-then-cut is what large
   * pipelines actually run, with the straddle loss amortized by the budget).
   * One window cumsum per (stratum, shard) — the shuffle moves (id, count)
   * pairs only, never text.
   *
   * `shards` is the SKEW bound: each stratum's prefix sum is a single
   * ordered pass through one partition, so a dominant stratum (one language
   * at 90% of a 100 TB corpus) would serialize into one sort. With
   * `shards = n`, rows sub-bucket by the id's md5 (same engine-portable
   * scheme as [[Sampling.hashBucket]] — deterministic under any
   * partitioning) and each (stratum, shard) packs independently against the
   * full budget; emitted pack ids are `local_pack * shards + shard` —
   * disjoint across shards, derivable relationally. Sharding trades pack
   * density (≤ one partially-filled tail pack per shard instead of per
   * stratum) for a 1/n bound on every window partition. `shards = 1`
   * (default) is the unsharded rule, bit-identical to round-8 output.
   * Returns per-doc (stratum, id, n_tokens, pack_id); aggregate by
   * (stratum, pack_id) for pack manifests.
   */
  def packDocuments(df: DataFrame, idCol: String, textCol: String,
      stratumCol: String, budgetTokens: Int = 2048,
      shards: Int = 1): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(shards > 0, "shards must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("stratum"), col("shard")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // null text must stay NULL (not legacy size's -1, which would silently
    // shift every later start offset in the stratum); `div` keeps the pack
    // arithmetic exact where a double `/` would round past 2^53 tokens
    df.select(col(stratumCol).as("stratum"), col(idCol).as("id"),
        when(col(textCol).isNotNull,
          size(tokens(col(textCol))).cast("bigint")).as("n_tokens"),
        (if (shards == 1) lit(0L)
         else Sampling.hashBucket(col(idCol), shards)).as("shard"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("stratum"), col("id"), col("n_tokens"),
        (expr(s"start_tok div $budgetTokens") * shards + col("shard"))
          .as("pack_id"))
  }

  /** One distinct-shingle-hash set per doc: the shared first pass of the
    * contamination family. */
  /**
   * KMV (k-minimum-values) corpus-overlap sketch: estimate the Jaccard
   * similarity of two corpora's distinct shingle sets from the k smallest
   * md5 hash values on each side — the curation telemetry that answers "how
   * much of this new crawl is already in the training set?" WITHOUT joining
   * the corpora (the exact answer is a full shingle-set join; the sketch
   * reads each side once and compares two k-row sets).
   *
   * Estimator: with `U` = the k smallest distinct hashes of the union of
   * both sketches, `jaccard_est = |U ∩ A_k ∩ B_k| / |U|` — the classic KMV
   * Jaccard estimator (stderr ≈ 1/sqrt(k)). Every quantity is a pure
   * function of the text (md5 hashing, min-k, integer counts), so two
   * engines compute the IDENTICAL sketch — the estimate replays exactly in
   * SQL, no tolerance needed.
   *
   * Scale shape: one string-touching pass per side hashes shingles to
   * 64 bits; the distinct + min-k moves 8-byte keys only (the same cost
   * class as [[noveltyProfile]]'s df table) and `TakeOrderedAndProject`
   * keeps a k-row heap per partition — no global sort. The final joins
   * touch ≤ k rows per side. Returns one row
   * (inter_k, n_union_k, jaccard_est).
   */
  def overlapSketch(a: DataFrame, b: DataFrame, textCol: String,
      shingleSize: Int = 3, k: Int = 1024): DataFrame = {
    require(k > 0, "k must be positive")
    def kmv(df: DataFrame): DataFrame =
      df.select(explode(
          md5_token_hashes(shingles(col(textCol), shingleSize))).as("h"))
        .distinct().orderBy(col("h")).limit(k)
    // each sketch feeds BOTH the union-k and a semi-join: persist the k-row
    // result so the corpus-wide distinct scan behind it runs ONCE, not twice
    // (the k rows are trivially cacheable; the lineage they truncate is the
    // expensive part)
    graft.Eager.withPersisted(kmv(a)) { ka =>
      graft.Eager.withPersisted(kmv(b)) { kb =>
        val u = ka.unionByName(kb).distinct().orderBy(col("h")).limit(k)
        u.join(ka, Seq("h"), "left_semi").join(kb, Seq("h"), "left_semi")
          .agg(count(lit(1)).as("inter_k"))
          .crossJoin(u.agg(count(lit(1)).as("n_union_k")))
          .select(col("inter_k"), col("n_union_k"),
            (col("inter_k").cast("double") / col("n_union_k")).as("jaccard_est"))
      }
    }
  }

  /**
   * Mergeable per-shard KMV distinct sketches — the incremental-maintenance
   * primitive behind corpus dashboards at 100 TB: keep one k-minimum-values
   * sketch per shard (source, ingest day, partition), re-sketch ONLY shards
   * whose data changed, and combine in sketch space. KMV merging is EXACT,
   * not approximate-on-approximate: every one of the union's k smallest
   * distinct hashes is ≤ its own shard's k-th smallest, so it survives that
   * shard's sketch — `merge(shard sketches) == sketch(whole corpus)` is an
   * identity (spec- and oracle-pinned), and the merged estimate carries only
   * KMV's own error. Returns (shard, kmv array<bigint> ascending).
   *
   * Scale shape: values reduce to 60-bit md5 hashes at the scan; the
   * distinct moves (shard, 8-byte hash) pairs; the rank-window min-k is the
   * `rank <= k` pattern Spark 4 compiles to a per-group limit (a k-row heap,
   * no full per-shard sort). Sketks are k longs per shard — table-of-sketches
   * size is O(shards·k), independent of corpus size.
   */
  def kmvSketchShards(df: DataFrame, shardCol: String, valueCol: String,
      k: Int = 1024): DataFrame = {
    require(k > 0, "k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"))
    df.select(col(shardCol).as("shard"),
        md5_prefix60(col(valueCol).cast("string")).as("h"))
      .distinct()
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .groupBy(col("shard"))
      .agg(sort_array(collect_list(col("h"))).as("kmv"))
  }

  /**
   * Merge a table of [[kmvSketchShards]] sketches into one global sketch +
   * distinct-count estimate: min-k over the union of the shard sketches
   * (exactly the whole corpus's min-k — see [[kmvSketchShards]]), estimate
   * `(k-1)·2^60 / h_k` (h_k = largest retained hash over the [0, 2^60) md5
   * space); when fewer than k distinct values exist the sketch holds ALL of
   * them and the "estimate" is the exact count. The arithmetic is one
   * long→double cast + one multiply + one divide — bit-identical on every
   * engine. Touches only O(shards·k) rows — merging is corpus-free, which is
   * the point. Returns one row (kmv, k_actual, hk, ndv_est).
   */
  def kmvMergeEstimate(sketches: DataFrame, k: Int = 1024): DataFrame = {
    require(k > 0, "k must be positive")
    sketches.select(explode(col("kmv")).as("h"))
      .distinct().orderBy(col("h")).limit(k)
      .agg(sort_array(collect_list(col("h"))).as("kmv"),
        count(lit(1)).as("k_actual"), max(col("h")).as("hk"))
      .select(col("kmv"), col("k_actual"), col("hk"),
        when(col("k_actual") < k, col("k_actual").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(math.pow(2, 60)) /
            col("hk").cast("double"))
          .as("ndv_est"))
  }

  /**
   * BM25 ranked retrieval (Robertson/Sparck-Jones; the Okapi scoring every
   * keyword-search stack uses) as one relational plan — the "find the
   * documents about X" query of a corpus-curation workflow.
   *
   *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
   *   idf(t)   = ln(1 + (N − df + 0.5) / (df + 0.5))
   *
   * Direct-scan formulation: the token array is FILTERED to the query terms
   * inside the projection (a per-row HOF over the array), so only matching
   * tokens ever explode — the shuffle carries (id, dl, term) for the tiny
   * fraction of tokens that are query terms, never the corpus's token stream.
   * Per-term document frequencies come from a window over the grouped
   * (doc, term) rows (no second scan); the two corpus scalars (N, Σdl) ride a
   * broadcast cross join. One full-text scan for matches + one narrow scan
   * for the stats — at probe-heavy scale, precompute both with
   * [[writeBm25Index]] and query [[bm25TopKFromIndex]] instead (zero
   * full-corpus scans per query).
   *
   * Cross-engine determinism: per-(doc, term) contributions are quantized to
   * integer nano-units (round(score·1e9) — the [[lmScore]] contract; ln
   * parity caveats identical), summed exactly, and the top-k order breaks
   * ties by id. Returns (id, n_terms, score), k rows.
   */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    require(k > 0, "k must be positive")
    val t = terms.map(_.toLowerCase).distinct
    val toks = df.select(col(idCol).as("id"), tokens(lower(col(textCol))).as("tk"))
      .select(col("id"), size(col("tk")).cast("bigint").as("dl"),
        filter(col("tk"), x => x.isInCollection(t)).as("qt"))
    val base = toks.select(col("id"), col("dl"), explode(col("qt")).as("term"))
      .groupBy(col("id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    // N counts every row (null-text docs included: they are corpus members
    // with nothing to match); Σdl skips the null dls those rows produce
    val stats = toks.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    scoreBm25(base, stats, idCol, k, k1, b)
  }

  /**
   * Materialize the BM25 postings + corpus stats — the searchable-corpus
   * layout: postings (term, id, tf, dl) partitioned by the term's md5 bucket
   * (ALL postings of a term land in exactly one partition directory, so a
   * query's terms prune the scan to |terms| directories of ~1/nBuckets of the
   * index each), stats (N, Σdl) as a one-row sidecar, and a `docs` manifest
   * table (id, dl) — the membership record [[removeFromBm25Index]] needs to
   * decrement stats EXACTLY (postings alone cannot reconstruct token-less
   * docs, which count in N but produce no posting). Build once, probe with
   * [[bm25TopKFromIndex]] millions of times — no query ever rescans the
   * corpus text.
   */
  def writeBm25Index(df: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64, filesPerLeaf: Int = 0): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(filesPerLeaf >= 0, "filesPerLeaf must be non-negative (0 = auto)")
    // 0 = size-adaptive (round-18 optimization, guide §2/§6): one writer per
    // leaf per ~512 MB of estimated OUTPUT — a small corpus gets one file per
    // leaf instead of 4 tiny ones, a 100 TB corpus gets enough writers to
    // keep files in the columnar sweet spot. Explicit values still win.
    // What is WRITTEN is the exploded (id, term, tf, dl) postings table, not
    // the raw docs, and Catalyst's estimate cannot see the token expansion —
    // so the estimate runs on the PROJECTED input (id + text only; extra doc
    // columns must not inflate it) scaled by a measured postings-expansion
    // factor (round-19; `graft.bm25.postingsExpansion` overrides). Measured
    // written-postings-bytes / input-estimate: 2.62 at sf0.1, 3.67 at
    // sf0.01 (VERDICT.md, round 19); default 3.0 sits in the band and
    // errs toward MORE writers — files land under the 512 MB target rather
    // than over it.
    val expansion = df.sparkSession.conf
      .getOption("graft.bm25.postingsExpansion")
      .flatMap(v => scala.util.Try(v.toDouble).toOption).filter(_ > 0)
      .getOrElse(3.0)
    val fpl = if (filesPerLeaf > 0) filesPerLeaf
      else graft.store.Compaction.adaptiveFilesPerLeaf(
        df.select(col(idCol), col(textCol)), nBuckets, expansion)
    val toks = df.select(col(idCol).as("id"), tokens(lower(col(textCol))).as("tk"))
      .select(col("id"), size(col("tk")).cast("bigint").as("dl"),
        explode(col("tk")).as("term"))
    toks.groupBy(col("id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("bucket",
        pmod(graft.functions.GraftFunctions.md5_prefix60(col("term")),
          lit(nBuckets.toLong)))
      // born at the compaction target: group rows by (leaf, salt) so each
      // bucket dir gets ≤ fpl files instead of tasks × buckets small ones
      .repartition(col("bucket"), pmod(hash(col("id")), lit(fpl)))
      .write.partitionBy("bucket").mode("overwrite").parquet(path + "/postings")
    // each bucket leaf becomes its own manifest table (pure fs metadata) so
    // every later rewrite is reader-concurrent — see graft.store.Compaction
    graft.store.Compaction.migrateLeaves(df.sparkSession, path + "/postings")
    graft.store.ManifestTable.write(
      df.select(col(idCol).as("id"),
        token_count(lower(col(textCol))).cast("bigint").as("dl")),
      path + "/docs")
    // a rebuild starts a NEW incarnation: stale lazy-takedown tombstones
    // must not mask the fresh corpus — but the drain happens only AFTER
    // the fresh postings + docs commit (drain-LAST, the compactBm25Index
    // crash discipline): deleting the sidecar first opened a window where
    // a crash left the OLD corpus readable with its GDPR tombstones
    // erased. It also precedes the stats write below so statsFromDocs
    // aggregates the FULL fresh membership (stats ≡ aggregate(docs) with
    // nothing pending).
    val tp = new org.apache.hadoop.fs.Path(bm25TombstonesDir(path))
    tp.getFileSystem(df.sparkSession.sessionState.newHadoopConf())
      .delete(tp, true): Unit
    // stats derive FROM the just-written membership table (a tiny (id, dl)
    // read, not a third tokenization pass over the corpus) — the invariant
    // every maintenance verb preserves: stats ≡ aggregate of docs. A
    // ManifestTable like docs: every refresh is a generation swap, so there
    // is no crash window in which stats are missing or torn
    graft.store.ManifestTable.write(
      statsFromDocs(df.sparkSession, path), path + "/stats")
    // stamp the docs fingerprint the fresh stats derive from (round-18
    // derived-sidecar skip — see rewriteStats): the tombstone sidecar was
    // just drained, so stats ≡ aggregate(docs) holds here by construction
    graft.store.ManifestTable.snapshotFingerprint(df.sparkSession,
        path + "/docs")
      .foreach(fp => graft.store.ManifestTable.writeDerivedFrom(
        df.sparkSession, path + "/stats", fp))
  }

  private def bm25TombstonesDir(path: String): String = path + "/tombstones"

  /** The PENDING tombstone ids of a [[writeBm25Index]] layout
    * ([[tombstoneBm25Index]]): one `id` column, None when no lazy takedown
    * is outstanding. */
  private[graft] def bm25Tombstones(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(bm25TombstonesDir(path))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    // a concurrent compaction's drain may delete the sidecar between the
    // probe above and the read — a drained sidecar means "nothing pending",
    // never a reader error (re-verified gone before mapping to None)
    else try Some(graft.store.ManifestTable.read(spark, bm25TombstonesDir(path)))
    catch { case e: org.apache.spark.sql.AnalysisException =>
      if (!fs.exists(p)) None else throw e }
  }

  /** The stats invariant: (n_docs, Σdl) aggregated from the LOGICAL
    * membership — the `docs` sidecar minus pending [[tombstoneBm25Index]]
    * ids (null dls — null-text docs — count in N, skip Σ). While no
    * takedown is pending this is exactly aggregate(docs). */
  private def statsFromDocs(spark: org.apache.spark.sql.SparkSession,
      path: String, alsoTombstoned: Option[DataFrame] = None): DataFrame = {
    val docs = graft.store.ManifestTable.read(spark, path + "/docs")
    val pending = (bm25Tombstones(spark, path).toSeq ++ alsoTombstoned)
      .map(_.select(col("id"))).reduceOption(_ unionByName _)
    // explicit broadcast (round-18 advisory): an over-threshold takedown
    // list must fail loudly, never silently shuffle the membership table
    pending.fold(docs)(ts =>
        docs.join(broadcast(ts.select(col("id").as("__ts_id")).distinct()),
          col("id") === col("__ts_id"), "left_anti"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
  }

  /**
   * LAZY takedown on a [[writeBm25Index]] layout — the LSM tombstone
   * discipline ([[graft.ops.Dedup.tombstonePairs]] /
   * [[graft.ops.Similarity.tombstoneIvfCorpus]]) on the search index,
   * where [[removeFromBm25Index]]' every-bucket rewrite is the 100 TB
   * pain point: append `ids` to the tombstone sidecar (O(|ids|)) and
   * commit ONE new stats generation aggregated over the surviving
   * membership — no postings bucket and no docs row rewrites. The
   * takedown is QUERY-COMPLETE immediately: [[bm25TopKFromIndex]] masks
   * tombstoned postings before scoring, and since per-term document
   * frequencies are computed AT PROBE TIME from the (masked) postings,
   * df/idf/stats all equal a from-scratch index of the survivors. The
   * next [[compactBm25Index]] applies the delete physically (postings +
   * docs) and drains the sidecar. [[appendBm25Index]] refuses re-ingest
   * of a pending id; [[bm25TopKFromIndexPrevious]] deliberately scores
   * the PRE-takedown index (previous postings generations with the
   * previous — pre-takedown — stats generation): the takedown audit.
   * Returns the number of ids tombstoned.
   */
  def tombstoneBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame): Long = {
    require(graft.store.ManifestTable.exists(spark, path + "/docs"),
      s"tombstoneBm25Index needs the docs membership sidecar (round-11 " +
        s"layout) — rebuild via writeBm25Index: $path")
    val rm = graft.Eager.materialize(
      ids.select(col(ids.columns.head).as("id")).distinct())
    val n = rm.count()
    if (n > 0) {
      // survivor stats commit FIRST (round-16 advisory): the moment the
      // tombstone append below commits — when probes start masking — the
      // stats generation already reflects docs-minus-ids, so no concurrent
      // query ever scores masked postings against pre-takedown n_docs/Σdl.
      // A crash between the two leaves survivor stats with not-yet-masked
      // postings — the same stats-vs-docs crash residue every maintenance
      // verb heals via its next rewriteStats.
      graft.store.ManifestTable.write(
        statsFromDocs(spark, path, alsoTombstoned = Some(rm)), path + "/stats")
      graft.store.ManifestTable.append(rm, bm25TombstonesDir(path))
    }
    n
  }

  /**
   * WITHDRAW a pending lazy takedown on the search index —
   * [[tombstoneBm25Index]]' inverse ([[graft.ops.Dedup.untombstonePairs]]'
   * search twin, for the request filed in error or legally withdrawn):
   * shrink the tombstone sidecar by `ids`, then commit a fresh stats
   * generation over the now-larger surviving membership — ordered
   * sidecar-FIRST this time (the mirror of the takedown's stats-first):
   * the moment masking stops, df/idf re-expand from the postings at probe
   * time, and the stats generation lands right behind; a crash between
   * the two leaves the takedown's stats-vs-docs residue every maintenance
   * verb heals via its next stats rewrite. Only meaningful before the
   * next [[compactBm25Index]] drains; ids not pending are no-ops. Returns
   * the number of ids un-tombstoned.
   */
  def untombstoneBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame): Long = {
    val n = graft.ops.Dedup.withdrawTombstones(spark,
      bm25TombstonesDir(path), bm25Tombstones(spark, path), ids)
    if (n > 0) rewriteStats(spark, path)
    n
  }

  /** Incremental maintenance for a [[writeBm25Index]] layout — the search
    * half of the persisted-index family ([[graft.ops.Dedup.writeNearDupIndex]],
    * [[graft.ops.Similarity.appendBucketedCorpus]]/`appendIvfCorpus`): a NEW
    * batch of documents lands as appended posting files (the term→bucket
    * function is pure md5, so appends never re-bucket history) and the
    * one-row stats sidecar merges ADDITIVELY — N and Σdl are sums, and the
    * per-term document frequencies that drive idf are computed at query
    * time from the postings themselves, so the very next
    * [[bm25TopKFromIndex]] probe scores old + new with exactly the
    * arithmetic a from-scratch rebuild would use.
    *
    * Crash contract, in append order (docs membership → postings → stats
    * rewrite; every step leaves stats ≡ or behind the docs table, never
    * ahead of it). The stats sidecar is a [[graft.store.ManifestTable]]:
    * every refresh is a complete new generation + pointer swap, so stats
    * are NEVER missing or torn — a crash anywhere leaves the previous
    * (old, internally-consistent) stats generation readable. With
    * `batchId = Some(tag)` a BLIND RE-RUN after any crash is exact: the
    * docs append and the postings append each carry the batch's commit tag
    * ([[graft.store.ManifestTable.appendTagged]] /
    * [[graft.store.Compaction.appendTaggedPartitions]] — committed tags
    * no-op, partial attempts sweep by file prefix), and stats are a pure
    * function of the docs table, re-derived and re-committed on every run
    * — so whichever window the crash hit, the retry converges to the exact
    * clean-run state. Without a batchId the windows are:
    *  - crash after the docs append: membership holds the batch, stats and
    *    postings don't — probes score the old corpus consistently, and a
    *    [[removeFromBm25Index]] (which recomputes stats FROM membership)
    *    repairs stats; the batch's postings are re-appendable only via a
    *    rebuild, so recover by re-running [[writeBm25Index]] or by
    *    removing the batch ids and re-appending.
    *  - crash between the postings append and the stats rewrite: old stats
    *    + new postings under-count N/Σdl until any maintenance verb
    *    re-derives stats from docs (they all do); re-running the append
    *    from scratch double-appends postings, so recover through
    *    [[repairBm25Index]], not a blind retry.
    * Requires the round-11 layout (docs membership sidecar present) —
    * appending to a pre-sidecar index would silently build a PARTIAL
    * membership table that later poisons every stats recomputation, so it
    * refuses instead; rebuild via [[writeBm25Index]]. */
  def appendBm25Index(df: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64,
      batchId: Option[String] = None): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    val spark = df.sparkSession
    require(graft.store.ManifestTable.exists(spark, path + "/docs"),
      s"appendBm25Index needs the docs membership sidecar (round-11 " +
        s"layout) — rebuild via writeBm25Index: $path")
    // a tombstoned id re-arriving would hide its new postings behind its
    // own takedown — refuse loudly; compactBm25Index (the drain) first
    val tombs = bm25Tombstones(spark, path)
    tombs.foreach { t =>
      val clash = df.select(col(idCol).as("__bid")).distinct()
        .join(t.select(col("id").as("__ts_id")),
          col("__bid") === col("__ts_id"), "left_semi").count()
      if (clash > 0) throw new IllegalStateException(
        s"appendBm25Index($path): $clash batch id(s) are pending " +
          "tombstones — run compactBm25Index to drain before re-ingesting")
    }
    val docsDone = batchId.exists(t =>
      graft.store.ManifestTable.hasTag(spark, path + "/docs", t))
    val postsDone = batchId.exists(t =>
      graft.store.Compaction.hasTag(spark, path + "/postings", t))
    // Round-18 optimization (additive stats, guide §1.2/§2.3 "aggregate
    // before you shuffle; don't recompute what you already know"): when the
    // live stats generation provably derives from the CURRENT pre-append
    // docs snapshot (the O3 fingerprint stamp) and no tombstone mask is
    // pending, the post-append stats are EXACTLY old + batch — count and
    // sum are decomposable aggregates — so the O(corpus) docs re-scan every
    // append used to pay becomes O(batch): the batch's (n, Σdl) rides the
    // docs-append job itself as an Observation (no second tokenization
    // pass), and the stats rewrite folds it into the old one-row sidecar.
    // Any out-of-sync state (crash residue, pre-round-18 generations,
    // pending tombstones, tagged no-op retries) falls back to the full
    // re-derive, which remains the convergence path.
    val preSynced = tombs.isEmpty && !docsDone && {
      val fp = graft.store.ManifestTable.snapshotFingerprint(
        spark, path + "/docs")
      fp.isDefined && fp ==
        graft.store.ManifestTable.readDerivedFrom(spark, path + "/stats")
    }
    val members = df.select(col(idCol).as("id"),
      token_count(lower(col(textCol))).cast("bigint").as("dl"))
    var batchAgg: Option[(Long, Option[Long])] = None
    if (!docsDone) {
      // pre-append file set: the additive branch cross-checks the observed
      // row count against what the commit actually added (below)
      val preFiles =
        if (preSynced)
          graft.store.ManifestTable.liveSnapshotPaths(spark, path + "/docs")
        else Set.empty[String]
      val obs = new org.apache.spark.sql.Observation(
        "graft_bm25_append_stats_" + java.util.UUID.randomUUID().toString)
      // SINGLE-ACTION requirement (round-19 hardening of a round-18
      // advisory): the append below must stay the FIRST and ONLY action on
      // `observed` — any earlier auxiliary action (a bootstrap limit(0)
      // write, a debug count) would satisfy obs.get with that action's
      // metrics and silently underfeed the additive fold. preSynced implies
      // liveGen(docs) is defined, which keeps append()'s bootstrap branch
      // unreachable on the additive path; the row-count audit below catches
      // anything that still slips (plus the accumulator double-count class:
      // stage retries / speculative duplicates at cluster scale).
      val observed = members.observe(obs, count(lit(1)).as("n"),
        sum(col("dl")).as("s"))
      val wrote = batchId match {
        case Some(t) =>
          graft.store.ManifestTable.appendTagged(observed, path + "/docs", t)
        case None =>
          graft.store.ManifestTable.append(observed, path + "/docs"); true
      }
      // `wrote` is always true here (docsDone was checked above and writes
      // are single-maintainer), but obs.get BLOCKS until its action runs —
      // never wait on an observation whose job was skipped
      if (wrote) {
        val m = obs.get
        val bn = m("n").asInstanceOf[Long] + statsObservationSkew.get()
        // TRUST BUT VERIFY the observation before it can poison the stats
        // sidecar: the committed batch files' parquet footers record the
        // true row count (pure fs/footer metadata — no Spark job, no table
        // scan). A mismatch (stage retry double-count, speculative
        // execution, an unnoticed extra action) falls back to the full
        // re-derive instead of stamping a wrong (n, Σdl) that nothing
        // would converge until the next out-of-sync event.
        val committedN =
          if (preSynced)
            parquetFooterRows(spark,
              (graft.store.ManifestTable.liveSnapshotPaths(spark,
                path + "/docs") -- preFiles).toSeq)
          else -1L
        if (!preSynced || committedN == bn)
          batchAgg = Some((bn, Option(m("s")).map(_.asInstanceOf[Long])))
        else
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"appendBm25Index($path): observed batch count $bn != committed " +
              s"row count $committedN — additive stats skipped, re-deriving " +
              "from the membership table")
      }
    }
    if (!postsDone) {
      val toks = df.select(col(idCol).as("id"),
          tokens(lower(col(textCol))).as("tk"))
        .select(col("id"), size(col("tk")).cast("bigint").as("dl"),
          explode(col("tk")).as("term"))
      val posted = toks.groupBy(col("id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("bucket",
          pmod(graft.functions.GraftFunctions.md5_prefix60(col("term")),
            lit(nBuckets.toLong)))
      // both paths route through Compaction so the files always land in
      // each leaf's LIVE generation — a flat `mode("append")` into the root
      // would strand postings outside the manifests once any maintenance
      // rewrite has run (excluded from later rewrites, yet still counted
      // by a root scan)
      graft.store.Compaction.appendPartitions(posted,
        path + "/postings", "bucket", batchId): Unit
    }
    // stats: the additive path (see preSynced above) folds the observed
    // batch aggregate into the old one-row sidecar — O(batch), no docs
    // scan; every other state re-derives from the updated membership
    // table (rewriteStats), which also converges the stats-behind-docs
    // crash window on tagged retries.
    (batchAgg, preSynced) match {
      case (Some((bn, bs)), true) =>
        statsAdditiveRuns.incrementAndGet(): Unit
        val old = graft.store.ManifestTable.read(spark, path + "/stats")
          .select(col("n_docs").cast("long"), col("sum_dl").cast("long"))
          .head()
        val oldN = if (old.isNullAt(0)) 0L else old.getLong(0)
        val oldS = if (old.isNullAt(1)) None else Some(old.getLong(1))
        // SQL sum semantics: null only when EVERY input is null
        val newS: Option[Long] = (oldS, bs) match {
          case (Some(a), Some(b)) => Some(a + b)
          case (a, b) => a.orElse(b)
        }
        import spark.implicits._
        val fresh = Seq((oldN + bn, newS))
          .toDF("n_docs", "sum_dl")
        graft.store.ManifestTable.write(fresh, path + "/stats")
        graft.store.ManifestTable.snapshotFingerprint(spark, path + "/docs")
          .foreach(fp => graft.store.ManifestTable.writeDerivedFrom(
            spark, path + "/stats", fp))
      case _ => rewriteStats(spark, path)
    }
  }

  /** Observable count of additive-stats folds taken (vs the full
    * re-derive) — lets specs assert WHICH path served an append. */
  private[graft] val statsAdditiveRuns =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** TEST SEAM for the round-19 drift guard: added to the OBSERVED batch
    * count before the committed-footer cross-check, so a spec can simulate
    * the accumulator double-count class (stage retry, speculative
    * execution) without needing a real stage failure. Always 0 outside
    * tests. */
  private[graft] val statsObservationSkew =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Sum of the parquet footer row counts of `paths` — driver-side
    * metadata reads only (one footer per file, no Spark job), on the
    * bounded leaf pool. −1 when any footer is unreadable, so a caller
    * auditing an expected count treats I/O trouble as a mismatch, never as
    * agreement. */
  private[graft] def parquetFooterRows(
      spark: org.apache.spark.sql.SparkSession, paths: Seq[String]): Long =
    try {
      val conf = spark.sessionState.newHadoopConf()
      graft.store.Compaction.pooledMap(paths) { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    } catch { case _: Exception => -1L }

  /** Commit `stats ≡ aggregate(docs)` as a new generation of the stats
    * ManifestTable — crash-safe (a crash leaves the previous generation
    * live) and reader-concurrent, like every other sidecar rewrite. Also
    * sweeps a stranded `stats__staged` dir from the pre-manifest (delete +
    * rename) swap protocol this replaced. */
  private def rewriteStats(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val staged = new org.apache.hadoop.fs.Path(path + "/stats__staged")
    val fs = staged.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(staged, true): Unit
    // Round-18 optimization (derived-sidecar skip): when no takedown mask is
    // pending, stats ≡ aggregate(docs) — if the live stats generation
    // already records the CURRENT docs snapshot fingerprint, recomputing
    // would commit a byte-identical value. Skip the read-aggregate-write
    // cycle (two Spark jobs + a manifest commit) for one fs listing — the
    // convergence paths this serves (tagged replays, blind retries, the
    // no-op append) are exactly the ones that re-run over unchanged docs.
    // With tombstones pending stats ≠ aggregate(docs): always recompute and
    // never stamp (a masked value must not claim the unmasked fingerprint).
    val noTombstones = bm25Tombstones(spark, path).isEmpty
    val docsFp =
      if (noTombstones)
        graft.store.ManifestTable.snapshotFingerprint(spark, path + "/docs")
      else None
    if (docsFp.isDefined && docsFp ==
        graft.store.ManifestTable.readDerivedFrom(spark, path + "/stats"))
      return
    graft.store.ManifestTable.write(statsFromDocs(spark, path), path + "/stats")
    docsFp.foreach(fp =>
      graft.store.ManifestTable.writeDerivedFrom(spark, path + "/stats", fp))
  }

  /**
   * Delete documents from a [[writeBm25Index]] layout — the takedown verb
   * on the search index ([[graft.ops.Dedup.removeFromNearDupIndex]]'s twin;
   * without it a removed doc keeps RANKING in every future query, and its
   * ghost postings keep inflating df/idf). Three rewrites, all exact:
   * every posting bucket rewrites through an anti-join on the removed ids
   * (independent per-bucket stage-and-swap jobs, submitted concurrently —
   * [[graft.store.Compaction.rewritePartitions]]; unlike compaction NO
   * bucket is skipped, removed ids can post anywhere); the `docs`
   * membership sidecar rewrites through its manifest; stats recompute from
   * the surviving membership rows — exact even for token-less docs, which
   * count in N but have no posting to reconstruct from. The next
   * [[bm25TopKFromIndex]] probe scores exactly what a from-scratch
   * [[writeBm25Index]] of the surviving corpus would (oracle q225).
   * READER-CONCURRENT per posting bucket (each `bucket=` leaf is a
   * [[graft.store.ManifestTable]] — a concurrent probe keeps the files it
   * resolved); stats commit as a new generation of their own manifest
   * table, so no crash leaves them missing or torn. Ids not in the index
   * are no-ops.
   * The removal set broadcasts to every
   * rewrite job — right for takedown lists (small by nature); a removal so
   * large it cannot broadcast is a rebuild ([[writeBm25Index]] over the
   * survivors), not a delete.
   */
  def removeFromBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, targetFiles: Int = 4): Unit = {
    import graft.store.{Compaction, ManifestTable}
    require(ManifestTable.exists(spark, path + "/docs"),
      s"removeFromBm25Index needs the docs membership sidecar (round-11 " +
        s"layout) — rebuild via writeBm25Index: $path")
    // SNAPSHOT the removal set once: the caller's plan may be
    // nondeterministic or read the very layout being rewritten, and every
    // per-bucket job (plus the docs/stats rewrites) must see one list
    val rm = broadcast(graft.Eager.materialize(
      ids.select(col(ids.columns.head).as("__rm_id"))))
    Compaction.rewritePartitions(spark, path + "/postings", targetFiles,
      p => p.join(rm, p("id") === col("__rm_id"), "left_anti")): Unit
    ManifestTable.compact(spark, path + "/docs", targetFiles,
      d => d.join(rm, d("id") === col("__rm_id"), "left_anti"))
    rewriteStats(spark, path)
  }

  /**
   * Consistency repair / fsck for a [[writeBm25Index]] layout — the search
   * index's twin of [[graft.ops.Dedup.repairNearDupIndex]] (and the content
   * complement of the structural [[graft.store.Compaction.fsckPartitions]]).
   * The layout invariant is: `docs` is authoritative membership; every
   * member with `dl > 0` has postings; every posting's id is a member;
   * `stats ≡ aggregate(docs)`. A crash inside an UNTAGGED append or between
   * [[removeFromBm25Index]]'s three rewrites can break it:
   *
   *  - **Orphan postings** (id posts but is no member — e.g. a crashed
   *    overwrite left new postings against old docs): PURGED via the same
   *    per-bucket anti-join rewrite the takedown verb uses.
   *  - **Under-posted members** (`dl > 0` yet zero postings — e.g. a crash
   *    after the docs append but before the postings append, or between a
   *    takedown's postings and docs rewrites): postings cannot be rebuilt
   *    without the text, so the member is QUARANTINED — removed from
   *    `docs` and written to `<path>/quarantine` (a manifest table), the
   *    caller's re-ingest worklist. Token-less members (dl = 0 or null)
   *    legally have no postings and are untouched.
   *  - **Stats drift / stranded `stats__staged`**: stats re-derive from the
   *    repaired membership unconditionally (the cheap invariant).
   *
   * Detection is one postings id-distinct plus two broadcast anti-joins
   * (damage sets are crash-window sized); rewrites run only when their
   * damage class is present. Reader-concurrent like every maintenance verb;
   * single-maintainer. Returns a one-row report
   * `(orphan_rows, quarantined_docs)` — run pending TAGGED retries first:
   * a tagged batch mid-retry looks exactly like the damage this verb
   * quarantines.
   */
  def repairBm25Index(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 4): DataFrame = {
    import graft.store.{Compaction, ManifestTable}
    require(ManifestTable.exists(spark, path + "/docs"),
      s"repairBm25Index needs the docs membership sidecar: $path")
    val members = graft.Eager.materialize(
      ManifestTable.read(spark, path + "/docs"))
    val posted = graft.Eager.materialize(
      Compaction.readPartitioned(spark, path + "/postings", "bucket")
        .map(_.select(col("id")).distinct())
        .getOrElse(members.select(col("id")).limit(0)))
    // orphan postings: posted ids that are not members
    val orphanIds = broadcast(graft.Eager.materialize(
      posted.join(members.select(col("id")),Seq("id"), "left_anti")
        .withColumnRenamed("id", "__rm_id")))
    val orphanCount = orphanIds.count()
    var orphanRows = 0L
    if (orphanCount > 0) {
      // count purged rows first (the report), then the takedown rewrite
      orphanRows = Compaction.readPartitioned(spark, path + "/postings", "bucket")
        .get.join(orphanIds, col("id") === col("__rm_id"), "left_semi").count()
      Compaction.rewritePartitions(spark, path + "/postings", targetFiles,
        p => p.join(orphanIds, p("id") === col("__rm_id"), "left_anti")): Unit
    }
    // under-posted members: dl > 0 yet no postings — quarantine
    val quarantined = graft.Eager.materialize(
      members.where(col("dl").isNotNull && col("dl") > 0)
        .join(posted, Seq("id"), "left_anti"))
    val qCount = quarantined.count()
    if (qCount > 0) {
      ManifestTable.write(quarantined, path + "/quarantine")
      val qIds = broadcast(quarantined.select(col("id").as("__rm_id")))
      ManifestTable.compact(spark, path + "/docs", targetFiles,
        d => d.join(qIds, d("id") === col("__rm_id"), "left_anti"))
    }
    rewriteStats(spark, path)
    import spark.implicits._
    Seq((orphanRows, qCount)).toDF("orphan_rows", "quarantined_docs")
  }

  /** File-count compaction for a [[writeBm25Index]] layout — every
    * [[appendBm25Index]] lands one more small file set inside each term
    * bucket's directory, and a query's |terms|-directory pruned scan pays
    * the open storm. Each `bucket=` directory holding more than
    * `targetFiles` parquet files rewrites independently through its leaf
    * MANIFEST ([[graft.store.Compaction]] — concurrent per-leaf generation
    * swaps, keep-one-back retention): READER-CONCURRENT, a probe planned
    * just before a swap keeps every file it resolved, and a crash strands
    * at most one uncommitted generation (retired by the next rewrite).
    * Rows, bucketing, and the stats sidecar are untouched, so scores are
    * oblivious to when this ran (q217 + spec). Returns buckets rewritten. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFiles: Int = 4): Int =
    bm25Tombstones(spark, path) match {
      case None =>
        graft.store.Compaction.compactPartitions(spark, path + "/postings",
          targetFiles)
      case Some(ts) =>
        // pending lazy takedowns: apply them PHYSICALLY while rewriting —
        // removeFromBm25Index's three rewrites, amortized into the
        // compaction. Drain LAST; a crash anywhere leaves the tombstones
        // masking and a blind retry converges.
        val rm = broadcast(graft.Eager.materialize(
          ts.select(col("id").as("__ts_id"))))
        val n = graft.store.Compaction.rewritePartitions(spark,
          path + "/postings", targetFiles,
          p => p.join(rm, p("id") === col("__ts_id"), "left_anti"))
        graft.store.ManifestTable.compact(spark, path + "/docs", targetFiles,
          d => d.join(rm, d("id") === col("__ts_id"), "left_anti"))
        val tp = new org.apache.hadoop.fs.Path(bm25TombstonesDir(path))
        tp.getFileSystem(spark.sessionState.newHadoopConf())
          .delete(tp, true): Unit
        rewriteStats(spark, path) // same value as the masked stats; durable
        n
    }

  /** BM25 top-k over a [[writeBm25Index]] layout. Each query term's bucket is
    * computed on the DRIVER (the md5_prefix60 twin) and resolved to that
    * `bucket=` leaf's LIVE manifest generation
    * ([[graft.store.Compaction.resolveLeafDirs]]) — pruning happens by PATH
    * SELECTION at planning time, strictly before any row is read, and the
    * per-leaf manifest indirection makes the probe safe under a concurrent
    * [[compactBm25Index]] / [[removeFromBm25Index]] (a root scan would see
    * both generations of a rewritten leaf and double-count every posting).
    * The term equality is pushed into the row-group filter behind the path
    * prune. Scoring arithmetic is identical to [[bm25TopK]]. Terms whose
    * buckets never received a posting simply resolve to no path — a probe
    * of all-unknown terms returns empty. */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75,
      nBuckets: Int = 64): DataFrame =
    bm25TopKOverDirs(spark, path, terms, k, k1, b, nBuckets,
      buckets => graft.store.Compaction.resolveLeafDirs(spark,
        path + "/postings", "bucket", buckets),
      Some(graft.store.ManifestTable.read(spark, path + "/stats")),
      masked = true)

  /** The UNDO-WINDOW probe: [[bm25TopKFromIndex]] against each probed
    * bucket's PREVIOUS postings generation, scored with the PREVIOUS stats
    * generation — the search index as of just before the last maintenance
    * op, retained through one keep-one-back cycle. The takedown audit verb
    * on the search index ("what did the delete remove from this query's
    * ranking?" — [[graft.ops.Similarity.ivfTopKFromPartitionedPrevious]]'s
    * BM25 twin; reference analogue: HBase time-range reads,
    * Query2.scala:345-359), meaningful when the last op was layout-wide
    * ([[removeFromBm25Index]] rewrites every bucket AND commits a new stats
    * generation, so the two previous views are the same point in time).
    * Buckets with no undo window are skipped, and a layout whose stats have
    * never been rewritten probes EMPTY — a never-maintained index has no
    * "before", not a live-state alias. */
  def bm25TopKFromIndexPrevious(spark: org.apache.spark.sql.SparkSession,
      path: String, terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75, nBuckets: Int = 64): DataFrame =
    bm25TopKOverDirs(spark, path, terms, k, k1, b, nBuckets,
      buckets => graft.store.Compaction.resolveLeafDirsPrevious(spark,
        path + "/postings", "bucket", buckets),
      graft.store.ManifestTable.readPrevious(spark, path + "/stats"),
      // the audit view: previous postings score with the previous —
      // pre-takedown — stats generation; pending tombstones do not mask
      masked = false)

  private def bm25TopKOverDirs(spark: org.apache.spark.sql.SparkSession,
      path: String, terms: Seq[String], k: Int, k1: Double, b: Double,
      nBuckets: Int, resolve: Seq[Long] => Seq[String],
      statsOpt: Option[DataFrame], masked: Boolean): DataFrame = {
    require(terms.nonEmpty, "query terms must be non-empty")
    require(k > 0, "k must be positive")
    val t = terms.map(_.toLowerCase).distinct
    // md5_prefix60 is non-negative (top 60 bits), so % == pmod
    val buckets = t.map(x =>
      org.apache.spark.sql.graft.Md5Prefix60.compute(x) % nBuckets).distinct
    val dirs = if (statsOpt.isDefined) resolve(buckets) else Nil
    val base =
      if (dirs.nonEmpty)
        spark.read.parquet(dirs: _*)
          .where(col("term").isin(t: _*))
          .select(col("id"), col("dl"), col("term"), col("tf"))
      else // no probed bucket exists (or no undo window): empty, typed off
           // the docs sidecar
        graft.store.ManifestTable.read(spark, path + "/docs")
          .select(col("id"), col("dl"), lit("").as("term"), lit(0L).as("tf"))
          .where(lit(false))
    // pending lazy-takedown tombstones never post in a LIVE query; the
    // per-term df windows below then count survivors only, so idf equals a
    // from-scratch index of the survivors
    // explicit broadcast (round-18 advisory): a takedown list crossing the
    // auto-broadcast threshold must fail loudly, never silently flip the
    // probe to a sort-merge join that shuffles the probed postings
    val visible = if (!masked) base
      else bm25Tombstones(spark, path) match {
        case None => base
        case Some(ts) => base.join(
          broadcast(ts.select(col("id").as("__ts_id"))),
          col("id") === col("__ts_id"), "left_anti")
      }
    val stats = statsOpt.getOrElse(
      graft.store.ManifestTable.read(spark, path + "/stats").where(lit(false)))
    scoreBm25(visible, stats, "id", k, k1, b)
  }

  /** Shared BM25 scorer over (id, dl, term, tf) + a one-row (n_docs, sum_dl).
    * Arithmetic shape is the oracle contract — change it and q90's SQL twin
    * must change in lockstep. */
  private def scoreBm25(base: DataFrame, stats: DataFrame, idCol: String,
      k: Int, k1: Double, b: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    base.withColumn("df", count(lit(1)).over(w))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf", log(lit(1.0) +
        ((col("n_docs") - col("df")).cast("double") + 0.5) /
          (col("df").cast("double") + 0.5)))
      .withColumn("tfc", (col("tf").cast("double") * (lit(k1) + 1.0)) /
        (col("tf").cast("double") + lit(k1) * (lit(1.0) - lit(b) +
          lit(b) * col("dl").cast("double") / col("avgdl"))))
      .withColumn("qs", round(col("idf") * col("tfc") * 1e9, 0).cast("long"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("qs")).as("sq"))
      .select(col("id").as(idCol), col("n_terms"),
        round(col("sq").cast("double") / 1e9, 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /**
   * Single-scan filter-funnel attrition report — the per-stage survivor
   * counts every production corpus pipeline publishes ("N in → N after
   * length filter → N after quality → …"). Stages apply CUMULATIVELY in the
   * given order (a row must pass every earlier stage to be counted at a
   * later one); a NULL predicate counts as a fail, so the stage counts are
   * totals, never three-valued.
   *
   * The whole funnel is ONE scan and ONE tiny aggregate: each stage's
   * cumulative flag is computed in-scan (codegen'd booleans), partial
   * aggregation combines map-side, and only `stages.length` longs ever
   * shuffle — vs the naive k-filter-jobs formulation that re-reads the
   * corpus once per stage. At 100 TB the funnel costs exactly what one
   * `count(*)` costs.
   *
   * Returns one row per stage: (stage [1-based], stage_name, n_entered,
   * n_passed, n_dropped).
   */
  def filterFunnel(df: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "filterFunnel needs at least one stage")
    val cums = stages.scanLeft(lit(true)) {
      case (acc, (_, p)) => acc && coalesce(p, lit(false))
    }.tail
    val names = array(stages.map { case (nm, _) => lit(nm) }: _*)
    df.agg(count(lit(1)).as("n_in"),
        array(cums.map(c => coalesce(sum(c.cast("long")), lit(0L))): _*)
          .as("passed"))
      .select(col("n_in"), col("passed"),
        posexplode(col("passed")).as(Seq("i", "n_passed")))
      .select((col("i") + 1).cast("bigint").as("stage"),
        element_at(names, (col("i") + 1).cast("int")).as("stage_name"),
        when(col("i") === 0, col("n_in"))
          .otherwise(element_at(col("passed"), col("i").cast("int")))
          .as("n_entered"),
        col("n_passed"))
      .withColumn("n_dropped", col("n_entered") - col("n_passed"))
  }

  /**
   * First-merge BPE statistics (the pair-count table byte-pair-encoding
   * vocabulary induction starts from, Sennrich et al. 2016): frequency of
   * every adjacent CHARACTER pair, weighted by word frequency. Two-level
   * shape is the scale story: the corpus collapses to its word-frequency
   * dictionary first (one shuffle of compact (word, count) rows — the only
   * pass that touches corpus volume), then pairs explode over the DISTINCT
   * vocabulary only (≪ corpus; a 100 TB corpus has a ~10^7-word dictionary),
   * so the quadratic-ish pair work never scales with data volume. Words
   * shorter than 2 chars contribute nothing (explicit guard — Spark's
   * `sequence(1, 0)` would generate a DESCENDING range, not an empty one).
   * Returns the `topK` (pair, n) rows, count-desc, pair ties ascending.
   */
  def bpePairStats(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    val words = df.select(explode(tokens(lower(col(textCol)))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wn"))
    words
      .where(length(col("word")) >= 2)
      .select(col("wn"), explode(transform(
        sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wn")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)
  }

  /**
   * Hashed-feature importance scores (the DSIR recipe, Xie et al. 2023):
   * rank every document by how target-like its token distribution is,
   * estimated from hashed unigram counts — `score(d) = Σ_tok
   * ln(P̂_target(bucket(tok))) − ln(P̂_background(bucket(tok)))` with
   * add-one smoothing over `buckets` md5 buckets. Rows matching
   * `targetPred` define the target distribution; ALL rows are the
   * background. Per-token contributions are quantized to nano-units
   * (bigint) before summing — exact integer addition in any order, the
   * q73/q90 ln-parity contract — so scores replay exactly in SQL.
   *
   * 100 TB shape: the weight table is `buckets` rows (a broadcast-join
   * build side, never a shuffle of data); both passes are explode →
   * codegen'd md5 bucket → map-side partial aggregation, so only
   * (bucket|id, long) pairs ever shuffle. The corpus is scanned twice
   * (once for counts, once for scoring) — at scale, stage the exploded
   * buckets or accept the second scan; both beat shuffling tokens.
   * Token-less documents (null/empty text) have no defined score and are
   * excluded (the lmScore convention). Returns (idCol, n_tokens, score).
   */
  def importanceScores(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 256): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val ex = df.select(col(idCol).as("id"), targetPred.as("is_t"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .select(col("id"), col("is_t"),
        pmod(md5_prefix60(col("tok")), lit(buckets.toLong)).cast("int").as("b"))
    val stats = ex.groupBy(col("b")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("tb"),
      count(lit(1)).as("gb"))
    val totals = stats.agg(sum(col("tb")).as("tt"), sum(col("gb")).as("gt"))
    val w = stats.crossJoin(totals).select(col("b"),
      round((log((col("tb") + lit(1L)).cast("double") /
               (col("tt") + lit(buckets.toLong)).cast("double")) -
             log((col("gb") + lit(1L)).cast("double") /
               (col("gt") + lit(buckets.toLong)).cast("double"))) * 1e9, 0)
        .cast("long").as("w_nano"))
    ex.join(broadcast(w), Seq("b"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_nano")).as("s"))
      .select(col("id").as(idCol), col("n_tokens"),
        round(col("s").cast("double") / 1e9, 6).as("score"))
  }

  /**
   * Multinomial Naive Bayes, trained and applied in one plan — the
   * fasttext-style linear classifier stage of a curation pipeline (quality
   * gating, language routing), on hashed unigram features: per class c,
   * `score(doc) = ln P(c) + Σ_tok ln P(bucket(tok) | c)` with add-one
   * smoothing over the `buckets` feature vocabulary. Every ln is quantized
   * to nano-units (round(x·1e9) as bigint — the q73/q97 parity contract), so
   * per-doc scores are exact integer sums and the argmax replays on any
   * engine; score ties break toward the smallest class value.
   *
   * Returns (idCol, labelCol, pred, score_nano) — the true label rides
   * along so the confusion rollup is one groupBy. Token-less docs have no
   * feature rows and are absent (the [[importanceScores]] convention).
   *
   * 100 TB shape: the MODEL is (classes × buckets) longs — a broadcast
   * build side (1280 rows at defaults), never a data shuffle; training is
   * map-side partial counts of (class, bucket) pairs; scoring shuffles
   * (id, class, partial-sum) longs only — text never moves. The corpus is
   * scanned twice (train + score); at scale persist the hashed-token
   * projection once and feed both passes.
   */
  def nbTrainScore(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int = 256): DataFrame = {
    val scores = nbClassScores(df, idCol, textCol, labelCol, buckets)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("score_nano").desc, col("c"))
    scores.withColumn("__graft_rk", row_number().over(w))
      .where(col("__graft_rk") === 1)
      .select(col("id").as(idCol), col("label").as(labelCol),
        col("c").as("pred"), col("score_nano"))
  }

  /**
   * Binary log-odds margin from the NB scorer — the CONFIDENCE signal the
   * argmax of [[nbTrainScore]] throws away: `margin_nano(doc) =
   * score(posClass) − max over the other classes`, every term the
   * integer-nano class score, so the margin is exact and replayable.
   * Feed it to [[Audit.reliabilityReport]] to decide whether the margin is
   * usable as a confidence (the calibration question every learned quality
   * filter must answer before its scores gate a corpus). Returns
   * (id, label, margin_nano); docs with zero tokens score in no class and
   * are absent (the [[nbTrainScore]] contract). DEGENERATE CASE: a margin
   * needs both sides — if the training frame contains only `posClass` (or
   * lacks it entirely), the pos/other join has an empty side and the result
   * is EMPTY, not an error; check class balance upstream.
   */
  def nbLogOdds(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, posClass: String, buckets: Int = 256): DataFrame = {
    val scores = nbClassScores(df, idCol, textCol, labelCol, buckets)
    val pos = scores.where(col("c") === posClass)
      .select(col("id"), col("label"), col("score_nano").as("__sp"))
    val rest = scores.where(col("c") =!= posClass)
      .groupBy(col("id")).agg(max(col("score_nano")).as("__sn"))
    pos.join(rest, Seq("id"))
      .select(col("id").as(idCol), col("label").as(labelCol),
        (col("__sp") - col("__sn")).as("margin_nano"))
  }

  /** Per-(doc, class) NB log-scores in nano units — the shared core of
    * [[nbTrainScore]] (argmax) and [[nbLogOdds]] (margin). Columns:
    * (id, label, c, score_nano). */
  private def nbClassScores(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val toks = df.select(col(idCol).as("id"), col(labelCol).as("label"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .select(col("id"), col("label"),
        pmod(md5_prefix60(col("tok")), lit(buckets.toLong)).cast("int").as("b"))
    val classes = df.groupBy(col(labelCol).as("c")).agg(count(lit(1)).as("n_docs"))
    val priors = classes.crossJoin(classes.agg(sum(col("n_docs")).as("nd")))
      .select(col("c"),
        round(log(col("n_docs").cast("double") / col("nd").cast("double")) * 1e9, 0)
          .cast("long").as("p_nano"))
    val cnts = toks.groupBy(col("label").as("c"), col("b"))
      .agg(count(lit(1)).as("cnt"))
    val ctot = cnts.groupBy(col("c")).agg(sum(col("cnt")).as("tc"))
    // the FULL (class × bucket) grid: zero-count cells still carry their
    // smoothed ln(1/(tc+buckets)) weight — absent cells would silently skip
    // the smoothing term for unseen features
    val grid = classes.select(col("c"),
      explode(sequence(lit(0), lit(buckets - 1))).as("b"))
    val weights = grid.join(cnts, Seq("c", "b"), "left").na.fill(0L, Seq("cnt"))
      .join(ctot, Seq("c"), "left").na.fill(0L, Seq("tc"))
      .select(col("c"), col("b"),
        round(log((col("cnt") + lit(1L)).cast("double") /
            (col("tc") + lit(buckets.toLong)).cast("double")) * 1e9, 0)
          .cast("long").as("w_nano"))
    toks.join(broadcast(weights), Seq("b"))
      .groupBy(col("id"), col("label"), col("c"))
      .agg(sum(col("w_nano")).as("sw"))
      .join(broadcast(priors), Seq("c"))
      .select(col("id"), col("label"), col("c"),
        (col("sw") + col("p_nano")).as("score_nano"))
  }

  /**
   * Token-distribution drift between two corpora (the "did today's crawl
   * shift under us" monitor): per hashed unigram bucket, the chi-square-style
   * contribution `(p_b − q_b)² / (p_b + q_b)` where p/q are the bucket's
   * probability in corpus A/B. Per-bucket contributions are nano-quantized
   * (round(x·1e9) as bigint), so the corpus-level drift statistic is an
   * exact integer sum — order-independent, engine-replayable; the division
   * chain itself is deterministic (IEEE +,−,×,÷ are correctly rounded, so
   * the same op tree gives the same double on every engine — only SUM order
   * varies, and that happens on integers here).
   *
   * Returns one row per bucket with mass on either side:
   * (b, n_a, n_b, contrib_nano). Σ contrib_nano / 1e9 ∈ [0, 2] is the
   * chi-square drift (0 = identical distributions, 2 = disjoint).
   *
   * 100 TB shape: two map-side-combined bucket counts (256-row tables), one
   * tiny join — the corpora are scanned once each and never shuffled.
   */
  def distributionDrift(a: DataFrame, b: DataFrame, textCol: String,
      buckets: Int = 256): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    def bucketCounts(df: DataFrame, out: String): DataFrame =
      df.select(explode(tokens(lower(col(textCol)))).as("tok"))
        .select(pmod(md5_prefix60(col("tok")), lit(buckets.toLong))
          .cast("int").as("b"))
        .groupBy(col("b")).agg(count(lit(1)).as(out))
    val ca = bucketCounts(a, "n_a")
    val cb = bucketCounts(b, "n_b")
    val joined = ca.join(cb, Seq("b"), "full_outer")
      .na.fill(0L, Seq("n_a", "n_b"))
    val totals = joined.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    val pa = col("n_a").cast("double") / col("ta").cast("double")
    val pb = col("n_b").cast("double") / col("tb").cast("double")
    // (pa−pb)·(pa−pb) — an explicit product, NOT pow(x,2): Math.pow is
    // allowed 1 ulp of error and engines differ; ×,÷ are correctly rounded
    joined.crossJoin(broadcast(totals))
      .select(col("b").cast("bigint").as("b"), col("n_a"), col("n_b"),
        round(((pa - pb) * (pa - pb) / (pa + pb)) * 1e9, 0)
          .cast("long").as("contrib_nano"))
  }

  /**
   * URL canonicalization — the first dedup stage of every web-crawl pipeline
   * (the same page arrives as `HTTPS://www.ex.com:443/p/1/?utm_source=f#top`
   * and `https://ex.com/p/1`): drop the fragment and the scheme, lowercase
   * the authority, strip a leading `www.`, strip default ports (`:80`/`:443`),
   * strip trailing slashes from the path, drop tracking query parameters
   * (`utm_*`, `fbclid`, `gclid`, `ref`) and SORT the survivors so parameter
   * order cannot split a group. Pure codegen'd expression chain (regexp +
   * array ops) — zero shuffle, runs at scan bandwidth, and every rule has an
   * exact DuckDB twin (RE2-safe patterns: no backreferences, no lookaround)
   * so the canonical keys replay in SQL.
   *
   * Deliberately conservative: the path's case is preserved (paths are
   * case-sensitive per RFC 3986; only scheme+authority fold), and unknown
   * query parameters are kept. Scheme-less inputs canonicalize as if the
   * authority starts the string. ASCII authorities assumed (IDN folding is
   * a tokenizer-grade concern, out of scope).
   */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val host = regexp_replace(regexp_replace(
      lower(regexp_extract(rest, "^([^/?]+)", 1)),
      "^www\\.", ""), ":(80|443)$", "")
    val path = regexp_replace(regexp_extract(rest, "^[^/?]*(/[^?]*)", 1), "/+$", "")
    val query = regexp_extract(rest, "\\?(.*)$", 1)
    val keptParams = array_sort(filter(split(query, "&"),
      p => p =!= lit("") && !p.rlike("^(utm_[^=]*|fbclid|gclid|ref)=")))
    concat(host, path,
      when(size(keptParams) > 0, concat(lit("?"), concat_ws("&", keptParams)))
        .otherwise(lit("")))
  }

  /**
   * Cross-document paragraph-level exact dedup with reassembly (the
   * RefinedWeb/Dolma discipline: the unit of duplication on the web is the
   * paragraph, not the page — quoted posts, syndicated ledes, repeated
   * disclaimers). The GLOBAL first occurrence of each paragraph — minimum
   * (doc, position) lexicographically — survives; every other occurrence,
   * including repeats later in the SAME document, is spliced out and the
   * remaining paragraphs rejoin in order.
   *
   * 100 TB shape: [[removeBoilerplateLines]]'s discipline — text never
   * shuffles. Paragraphs reduce at the scan to (doc, pos, 60-bit md5)
   * triples; the winner table lives on hash keys (`min(struct(doc, pos))`
   * is one map-side-combinable agg, no window); only DROPPED (doc, pos)
   * pairs travel back, and untouched docs — the overwhelming majority —
   * pass through VERBATIM on the left-join miss. `sep` is literal
   * (regex-quoted split, byte-identical rejoin). NULL text passes through
   * NULL with zero counts. Returns (idCol, textCol deduped, n_paras,
   * n_dropped).
   */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    val parts = split(col(textCol), lit(java.util.regex.Pattern.quote(sep)))
    val paras = df
      .select(col(idCol).as("__pid"), posexplode(parts).as(Seq("pos", "para")))
      .select(col("__pid"), col("pos"), md5_prefix60(col("para")).as("h"))
    val winners = paras.groupBy(col("h"))
      .agg(min(struct(col("__pid"), col("pos"))).as("w"))
    val dropped = paras.join(winners, Seq("h"))
      .where(col("__pid") =!= col("w.__pid") || col("pos") =!= col("w.pos"))
      .groupBy(col("__pid"))
      .agg(collect_set(col("pos")).as("__drop_pos"),
        count(lit(1)).as("__n_dropped"))
    df.join(dropped, df(idCol) === dropped("__pid"), "left")
      .select(df(idCol),
        when(col("__drop_pos").isNull, col(textCol))
          .otherwise(concat_ws(sep,
            filter(parts, (_, i) => !array_contains(col("__drop_pos"), i))))
          .as(textCol),
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(parts).cast("bigint")).as("n_paras"),
        coalesce(col("__n_dropped"), lit(0L)).as("n_dropped"))
  }

  /**
   * HTML → text extraction (the WET-file stage of a crawl pipeline: strip
   * markup, keep prose). Order matters and is part of the contract:
   * comments, then `<script>`/`<style>` blocks WITH their contents (their
   * text is code, not prose), then remaining tags each become a space (so
   * `a</p><p>b` stays two tokens), then the five ubiquitous character
   * entities decode (`&amp;` LAST — decoding it first would conjure new
   * entities out of literal text like `&amp;lt;`), then whitespace runs
   * collapse to one space and the ends trim.
   *
   * Pure codegen'd regexp/replace chain — zero shuffle, scan bandwidth.
   * Every pattern is RE2-safe (inline `(?is)` flags, non-greedy `.*?`, no
   * backreferences/lookaround), so the whole chain has an exact DuckDB
   * twin. Entity decode uses literal `replace`, not regex. This is a
   * heuristic extractor by design: malformed nesting degrades to extra
   * whitespace, never to lost prose outside script/style blocks.
   */
  def extractHtmlText(html: Column): Column = {
    val noComment = regexp_replace(html, "(?s)<!--.*?-->", " ")
    val noScript = regexp_replace(noComment, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    val amp = replace(ent, lit("&amp;"), lit("&"))
    trim(regexp_replace(amp, "\\s+", " "))
  }

  /** The Gopher stopword list (Rae et al. 2021 §A1.1: a doc must contain at
    * least two of these to pass the stop-word rule). */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * The full Gopher quality-rule report (Rae et al. 2021, Appendix A1.1) —
   * the rule battery production corpus filters publish per-document, not
   * just a composite score: word-count bounds, mean-word-length bounds,
   * symbol-to-word ratio (`#` and `...`), bullet-line and ellipsis-line
   * fractions, alphabetic-word fraction, and the stop-word floor. `keep`
   * is the conjunction.
   *
   * Every rule is decided in INTEGER arithmetic (cross-multiplied
   * rationals — `10·n_sym < n_words` instead of `n_sym/n_words < 0.1`), so
   * there is no float rounding to diverge between engines, and every count
   * comes from a codegen'd string primitive (regexp_count / split / replace
   * length deltas) — no interpreted higher-order functions, no shuffle,
   * scan bandwidth. Empty/null docs fail every rule that needs tokens
   * (coalesce to false — the [[filterFunnel]] convention).
   *
   * Returns (idCol, n_words, n_lines, plus one boolean per rule, keep).
   */
  def gopherQuality(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nW = size(toks).cast("bigint")
    val nLines = when(t.isNull, lit(0L))
      .otherwise(size(split(t, "\n", -1)).cast("bigint"))
    // sum of token lengths == chars left after deleting every ' ' (the
    // tokens() contract splits on single spaces, nothing else)
    val nChars = length(replace(t, lit(" "), lit(""))).cast("bigint")
    // '#' occurrences + '...' occurrences (non-overlapping, the replace trick)
    val nHash = (length(t) - length(replace(t, lit("#"), lit("")))).cast("bigint")
    val nEll = ((length(t) - length(replace(t, lit("..."), lit("")))) / 3).cast("bigint")
    // words with NO alphabetic char = tokens left after deleting every
    // space-delimited run that contains a letter ([^ ] matches exactly the
    // tokens() token alphabet, so the deletion is exactly per-token)
    val nNonAlpha = size(tokens(regexp_replace(t, "[^ ]*[A-Za-z][^ ]*", ""))).cast("bigint")
    val nAlpha = nW - nNonAlpha
    val nBullet = regexp_count(t, lit("(?m)^(- |\\* )")).cast("bigint")
    val nEllLine = regexp_count(t, lit("(?m)\\.\\.\\.$")).cast("bigint")
    val nStop = count_in_set(tokens(lower(t)), gopherStops).cast("bigint")
    def rule(c: Column) = coalesce(c, lit(false))
    df.select(col(idCol), nW.as("n_words"), nLines.as("n_lines"),
        rule(nW >= minWords && nW <= maxWords).as("r_word_count"),
        rule(lit(3L) * nW <= nChars && nChars <= lit(10L) * nW).as("r_mean_word_len"),
        rule(lit(10L) * (nHash + nEll) < nW).as("r_symbol_ratio"),
        rule(lit(10L) * nBullet <= lit(9L) * nLines).as("r_bullet_lines"),
        rule(lit(10L) * nEllLine <= lit(3L) * nLines).as("r_ellipsis_lines"),
        rule(lit(5L) * nAlpha > lit(4L) * nW).as("r_alpha_words"),
        rule(nStop >= 2L).as("r_stop_words"))
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") && col("r_symbol_ratio") &&
        col("r_bullet_lines") && col("r_ellipsis_lines") && col("r_alpha_words") &&
        col("r_stop_words"))
  }

  /** Multi-level public suffixes recognized by [[registeredDomain]] — the
    * high-traffic two-label entries of the Public Suffix List. A full PSL
    * would load the published list the same way; the LOGIC is what scales. */
  val twoLevelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "co.nz", "com.br", "com.mx", "co.in",
    "co.kr", "com.sg", "co.za", "com.cn", "com.tr", "com.ar")

  /**
   * Registered-domain extraction (the per-site aggregation key of every
   * crawl datacard: `a.b.example.co.uk` → `example.co.uk`): take the last
   * two labels of an already-canonical host (see [[canonicalizeUrl]]),
   * or the last three when the final two form a multi-level public suffix
   * (`co.uk`, `com.au`, …). Single-label hosts pass through unchanged.
   * Pure array/slice expression chain — codegen'd, zero shuffle, and
   * list-slicing replays exactly in DuckDB.
   */
  def registeredDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val last2 = concat_ws(".", slice(labels, -2, 2))
    val last3 = concat_ws(".", slice(labels, -3, 3))
    when(host.isNull, lit(null).cast("string"))
      .when(n >= 3 && last2.isin(twoLevelSuffixes: _*), last3)
      .when(n >= 2, last2)
      .otherwise(host)
  }

  /**
   * CCNet-style perplexity bucketing (Wenzek et al. 2020): per language,
   * rank documents by their in-corpus LM score ([[lmScore]] — higher = more
   * fluent) and cut the ranking into head / middle / tail thirds. Training
   * pipelines keep head+middle and route tail to re-filtering; the bucket
   * label is the routing key.
   *
   * Cuts are INTEGER rank comparisons (`3·rk ≤ n` → head, `3·rk ≤ 2n` →
   * middle — the [[graft.ops.Sampling.quantileBand]] discipline): no
   * interpolated percentile exists to diverge across engines, and the
   * (score desc, id) order makes ties deterministic. Token-less docs have
   * no score and are absent (the [[lmScore]] convention).
   *
   * 100 TB shape: [[lmScore]]'s own discipline (text never shuffles —
   * bigram model on hashed pairs, nano-quantized sums) plus ONE window
   * pass over (id, lang, score) rows — the corpus-volume work ended
   * before the ranking starts.
   */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
      groupCol: String): DataFrame = {
    val scored = lmScore(df, idCol, textCol)
    val withG = scored.join(
      df.select(col(idCol), col(groupCol)), Seq(idCol))
    val g = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val w = g.orderBy(col("avg_logprob").desc, col(idCol))
    withG
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(g))
      .select(col(idCol), col(groupCol), col("n_bigrams"), col("avg_logprob"),
        when(col("__rk") * 3 <= col("__n"), lit("head"))
          .when(col("__rk") * 3 <= col("__n") * 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /**
   * Pairwise corpus-overlap matrix from per-shard KMV sketches — the
   * source-level contamination dashboard ("how much does each crawl
   * source repeat each other source") WITHOUT ever joining the corpora:
   * for every shard pair (a < b), the union's min-k is the merge of the
   * two sketches (exact, the [[kmvMergeEstimate]] identity) and the
   * Jaccard estimate is the fraction of that min-k present in BOTH
   * sketches (Bar-Yossef et al.'s k-min coincidence estimator — a pure
   * function of the two sketches, so the ESTIMATE itself replays exactly
   * in SQL).
   *
   * Work is O(shards² · k) array operations over sketch rows only — the
   * corpora were read once when the sketches were built ([[kmvSketchShards]]
   * re-sketches only changed shards); the pair join broadcasts one side of
   * a shards-row table. Returns (shard_a, shard_b, union_k, inter_k,
   * jaccard_est), one row per unordered pair.
   */
  def kmvOverlapMatrix(sketches: DataFrame, k: Int = 1024): DataFrame = {
    require(k > 0, "k must be positive")
    val a = sketches.select(col("shard").as("shard_a"), col("kmv").as("kmv_a"))
    val b = sketches.select(col("shard").as("shard_b"), col("kmv").as("kmv_b"))
    val u = slice(array_sort(array_union(col("kmv_a"), col("kmv_b"))), 1, k)
    a.join(broadcast(b), col("shard_a") < col("shard_b"))
      .select(col("shard_a"), col("shard_b"),
        size(u).cast("bigint").as("union_k"),
        size(filter(u, h => array_contains(col("kmv_a"), h) &&
          array_contains(col("kmv_b"), h))).cast("bigint").as("inter_k"))
      .withColumn("jaccard_est",
        round(col("inter_k").cast("double") / col("union_k"), 6))
  }

  /**
   * Mergeable per-shard Count-Min sketches — the FREQUENCY twin of
   * [[kmvSketchShards]]'s distinct sketches (the incremental-dashboard
   * deployment: re-sketch only changed shards, merge in sketch space,
   * answer "how often does token X appear" without re-reading the corpus).
   * Sketch = `depth` hash rows × `width` counters; a token occurrence
   * increments counter `md5(r ':' token) mod width` in every row r. Merging
   * shards is counter-wise ADDITION — an exact identity (counts are linear),
   * not approximate-on-approximate; a point estimate is the MIN over the
   * merged rows and can only OVERCOUNT (collisions add, never subtract) —
   * the classic CM guarantee, which [[cmsEstimate]]'s oracle pins as
   * `est >= exact`.
   *
   * 100 TB shape: tokens reduce to (shard, r, bucket) at the scan
   * (codegen'd md5, one explode × depth) and partial aggregation collapses
   * them map-side; the sketch table is at most shards · depth · width rows
   * of longs — the only thing that ever shuffles. Zero counters are simply
   * absent rows (merge treats missing as 0). Returns
   * (shard, r, bucket, n).
   */
  def cmsSketchShards(df: DataFrame, shardCol: String, textCol: String,
      depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth > 0, "depth must be positive")
    require(width > 0, "width must be positive")
    df.select(col(shardCol).as("shard"),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .select(col("shard"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"), col("tok"))
      .select(col("shard"), col("r"),
        pmod(md5_prefix60(concat(col("r").cast("string"), lit(":"), col("tok"))),
          lit(width.toLong)).cast("int").as("bucket"))
      .groupBy(col("shard"), col("r"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /**
   * Mergeable equi-width histogram per shard — the QUANTILE member of the
   * mergeable-sketch family (KMV = distinct, CMS = frequency): bucket =
   * value div width, merge = counter-wise sum (an exact identity, like
   * CMS), and any quantile gets a GUARANTEED bucket-width bound from the
   * merged counts — re-sketch only changed shards, answer percentile
   * dashboards corpus-free. Values must be non-negative (integer div vs
   * floor differ below zero); nulls are excluded.
   */
  def histogramShards(df: DataFrame, shardCol: String, valueCol: String,
      width: Long): DataFrame = {
    require(width > 0, "width must be positive")
    val v = col(valueCol).cast("long")
    df.where(v.isNotNull && v >= 0)
      .select(col(shardCol).as("shard"),
        expr(s"cast(`$valueCol` as bigint) div $width").as("bucket"))
      .groupBy(col("shard"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /**
   * Rank-derived quantile BOUNDS from merged [[histogramShards]] sketches:
   * for each per-mille target p, the nearest-rank index is
   * `⌈total·p/1000⌉` (integer ceil-div) and the answering bucket is the
   * first whose cumulative count reaches it — so the true quantile value
   * lies in `[bucket·width, bucket·width + width − 1]`, a guarantee, not
   * an estimate (width is the caller's precision/size dial). All integer
   * arithmetic; the cumulative pass runs over HISTOGRAM-sized rows.
   * Returns (permille, rank, bucket, lo, hi).
   */
  def histogramQuantileBounds(hists: DataFrame, width: Long,
      permilles: Seq[Int]): DataFrame = {
    require(width > 0, "width must be positive")
    require(permilles.nonEmpty && permilles.forall(p => p >= 1 && p <= 1000),
      "per-milles must be in [1, 1000]")
    import org.apache.spark.sql.expressions.Window
    val merged = hists.groupBy(col("bucket")).agg(sum(col("n")).as("n"))
    val cum = merged
      .withColumn("cum", sum(col("n")).over(Window.orderBy(col("bucket"))))
      .crossJoin(broadcast(merged.agg(sum(col("n")).as("total"))))
    cum.select(col("bucket"), col("cum"), col("total"),
        explode(array(permilles.map(p => lit(p)): _*)).as("permille"))
      .withColumn("rank", expr("(total * permille + 999) div 1000"))
      .where(col("cum") >= col("rank"))
      .groupBy(col("permille"), col("rank"))
      .agg(min(col("bucket")).as("bucket"))
      .select(col("permille"), col("rank"), col("bucket"),
        (col("bucket") * width).as("lo"),
        (col("bucket") * width + (width - 1)).as("hi"))
  }

  /** The scan-side CM expansion shared with [[cmsSketchShards]]: one
    * (r, bucket) cell per token occurrence per hash row. Public so the
    * STREAMING maintenance path ([[graft.streaming.Streaming.cmsMaintainStream]])
    * builds the identical cells — the merge-linearity identity then makes
    * stream == batch an exact equality, not an approximation. */
  def cmsCells(df: DataFrame, textCol: String, depth: Int = 4,
      width: Int = 512): DataFrame = {
    require(depth > 0, "depth must be positive")
    require(width > 0, "width must be positive")
    df.select(explode(tokens(lower(col(textCol)))).as("tok"))
      .select(explode(sequence(lit(0), lit(depth - 1))).as("r"), col("tok"))
      .select(col("r"),
        pmod(md5_prefix60(concat(col("r").cast("string"), lit(":"), col("tok"))),
          lit(width.toLong)).cast("int").as("bucket"))
  }

  /**
   * Point-frequency estimates from merged [[cmsSketchShards]] sketches:
   * merge = groupBy(r, bucket) SUM (the linearity identity — estimating
   * from merged per-shard sketches equals estimating from one global
   * sketch, which the spec pins), then per probe token the estimate is the
   * min over its `depth` counters. Sketch-rows-only work — the corpora
   * were read when the sketches were built. Returns (token, est) with
   * est ≥ the true corpus count always (CM overcount guarantee).
   */
  def cmsEstimate(sketches: DataFrame, probes: Seq[String],
      depth: Int = 4, width: Int = 512): DataFrame = {
    require(probes.nonEmpty, "probes must be non-empty")
    val spark = sketches.sparkSession
    import spark.implicits._
    val merged = sketches.groupBy(col("r"), col("bucket"))
      .agg(sum(col("n")).as("n"))
    val pb = probes.toDF("token")
      .select(col("token"), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("token"), col("r"),
        pmod(md5_prefix60(concat(col("r").cast("string"), lit(":"), col("token"))),
          lit(width.toLong)).cast("int").as("bucket"))
    broadcast(pb).join(merged, Seq("r", "bucket"), "left")
      .groupBy(col("token"))
      .agg(min(coalesce(col("n"), lit(0L))).as("est"))
  }

  /**
   * PMI collocation extraction (the corpus-analysis staple: word pairs that
   * co-occur far above chance — "new york", "machine learning"):
   * `pmi = ln(c_xy · n / (c_x · c_y))` over adjacent-token bigrams, with a
   * `minCount` floor (PMI is unstable on rare pairs) and a deterministic
   * top-k (pmi desc, then pair ascending). The PMI is nano-quantized
   * (`round(ln·1e9)` → bigint, the q73/q90/q97 ln-parity contract) so every
   * reported value replays exactly in SQL.
   *
   * 100 TB shape: the corpus collapses to a bigram-count table and a
   * unigram-count table in one scan each — only (token, count) rows
   * shuffle; the `minCount` filter shrinks the bigram side BEFORE the
   * unigram joins (equi-joins on token keys, AQE-broadcastable when small);
   * counts promote to double before multiplying so no 64-bit overflow
   * exists at any corpus size. Returns (w1, w2, c12, pmi_nano).
   */
  /**
   * Per-document keyword extraction by tf-idf: each doc's top-k tokens by
   * `tf · ln(N/df)`, the retrieval-weighting staple. The score is EXACT
   * integer arithmetic end to end: idf is nano-quantized ONCE PER TOKEN
   * (`round(ln(N/df)·1e9)` — the q73 ln-parity contract) and multiplied by
   * the integer tf, so per-doc rankings (ties by token asc) replay exactly
   * in SQL — no per-doc float accumulates.
   *
   * Scale shape: the corpus reduces to a (doc, token, tf) table at the
   * scan; df is one map-side-combinable rollup of it; the per-doc rank
   * window moves (id, token, score) only. Spark 4's InferWindowGroupLimit
   * turns the rank ≤ k filter into a per-group top-k heap — no full sort
   * per doc.
   */
  def tfidfKeywords(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
      explode(tokens(lower(col(textCol)))).as("tok"))
    val tf = toks.groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("tok")).crossJoin(broadcast(nDocs))
      .withColumn("score_nano",
        col("tf") * round(log(col("n_docs").cast("double") / col("df"))
          * 1e9, 0).cast("long"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score_nano").desc, col("tok"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("id").as(idCol), col("rk"), col("tok"),
        col("tf"), col("score_nano"))
  }

  /**
   * Search-result snippet extraction: for each document containing `term`,
   * the ±`window`-token context around its FIRST occurrence — the
   * highlighted-preview stage after [[bm25TopK]]/[[phraseSearch]] pick the
   * documents. Pure per-row array arithmetic (position, slice, join) at
   * scan bandwidth — zero shuffle; the slice boundary clamps at the
   * document edges identically in both engines (list slicing truncates).
   * Returns (idCol, first_pos [1-based token index], snippet).
   */
  def searchSnippets(df: DataFrame, idCol: String, textCol: String,
      term: String, window: Int = 5): DataFrame = {
    require(term.nonEmpty, "term must be non-empty")
    require(window >= 0, "window must be non-negative")
    val toks = tokens(lower(col(textCol)))
    df.select(col(idCol), toks.as("tk"),
        array_position(toks, lit(term)).as("p"))
      .where(col("p") > 0)
      .select(col(idCol), col("p").cast("long").as("first_pos"),
        concat_ws(" ", slice(col("tk"),
          greatest(col("p") - window, lit(1L)).cast("int"),
          (col("p") + window -
            greatest(col("p") - window, lit(1L)) + 1).cast("int")))
          .as("snippet"))
  }

  /**
   * Exponentially time-decayed trending terms — the recency-weighted twin
   * of a plain frequency top-k: a term's score is Σ over days of
   * count(day) · 2^(maxAge − age), i.e. half-life ONE DAY, scaled by
   * 2^maxAge so every weight is a positive integer power of two. That
   * scaling is the exactness trick: the whole score is 64-bit INTEGER
   * arithmetic (`1 << (maxAge − age)` per day bucket) — no float decay
   * factor whose powers drift across engines — so the ranking replays
   * bit-for-bit in SQL. Days older than `maxAge` fall out of the window
   * (their sub-integer weights would round to noise anyway).
   *
   * Overflow bound: per-(term, day) count · 2^maxAge must fit a long —
   * maxAge = 30 leaves room for 2^33 occurrences/day of one term.
   *
   * Scale shape: the corpus collapses to a (term, day, count) table at the
   * scan (map-side combinable); max(day) is a 1-long broadcast; the final
   * rollup is vocabulary-sized with a TakeOrderedAndProject top-k.
   */
  def decayedTrendingTerms(df: DataFrame, dayCol: String, textCol: String,
      maxAge: Int = 30, topK: Int = 20): DataFrame = {
    require(maxAge >= 0 && maxAge <= 33, "maxAge must be in [0, 33]")
    require(topK > 0, "topK must be positive")
    val counts = df.select(col(dayCol).cast("long").as("d"),
        explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("term"), col("d")).agg(count(lit(1)).as("c"))
    val mx = counts.agg(max(col("d")).as("md"))
    counts.crossJoin(broadcast(mx))
      .where(col("md") - col("d") <= maxAge)
      .withColumn("w", expr(
        s"shiftleft(cast(1 as bigint), cast($maxAge - (md - d) as int))"))
      .groupBy(col("term"))
      .agg(sum(col("c") * col("w")).as("decayed_scaled"),
        sum(col("c")).as("n_raw"))
      .orderBy(col("decayed_scaled").desc, col("term"))
      .limit(topK)
  }

  /**
   * N-gram diversity report per language — the corpus-health twin of the
   * novelty profile: for n = 1..3, total vs DISTINCT n-gram counts and their
   * ratio (the distinct-n diversity metric — a template-heavy or crawl-loop
   * corpus shows a collapsing ratio as n grows), plus the unigram Shannon
   * entropy H = ln N − Σ c·ln c / N in nano-units. Entropy arithmetic
   * follows the q73 ln-parity contract: each term's c·ln(c)·1e9 is rounded
   * to a long and SUMMED EXACTLY (order-free), and the final division is
   * INTEGER (`div`), so the reported value replays bit-for-bit in SQL.
   *
   * Shingling uses the corpus-wide rule ([[graft.functions.GraftFunctions.shingles]]):
   * a doc with fewer than n tokens contributes its whole text as one
   * n-gram. Distinct counting runs on 64-bit shingle hashes — strings never
   * shuffle past the scan; the oracle counts string shingles (the
   * q78/q128 precedent: a hash collision would be the only divergence).
   *
   * 100 TB shape: three scan passes (one per n) each reducing to
   * (lang, hash) before the shuffle; the count-distinct is a two-phase
   * hash agg; entropy folds over the unigram count table (vocabulary-sized).
   * Returns (lang, n, total, n_distinct, distinct_ratio, entropy_nano) —
   * entropy repeated per n row for a self-contained report.
   */
  def ngramDiversity(df: DataFrame, langCol: String,
      textCol: String): DataFrame = {
    val base = df.select(col(langCol).as("lang"),
        tokens(lower(col(textCol))).as("tk"))
      .where(size(col("tk")) > 0)
    val grams = Seq(1, 2, 3).map(n =>
        base.select(col("lang"), lit(n).as("n"),
          explode(shingle_hashes(col("tk"), n)).as("g")))
      .reduce(_.unionByName(_))
    val div = grams.groupBy(col("lang"), col("n"))
      .agg(count(lit(1)).as("total"),
        countDistinct(col("g")).as("n_distinct"))
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast("double") / col("total"), 6))
    val uniCounts = base
      .select(col("lang"), explode(token_hashes(col("tk"))).as("h"))
      .groupBy(col("lang"), col("h")).agg(count(lit(1)).as("c"))
    val ent = uniCounts.groupBy(col("lang"))
      .agg(sum(col("c")).as("nn"),
        sum(round(col("c").cast("double") * log(col("c").cast("double"))
          * 1e9, 0).cast("long")).as("s"))
      .select(col("lang"),
        (round(log(col("nn").cast("double")) * 1e9, 0).cast("long") -
          expr("s div nn")).as("entropy_nano"))
    div.join(ent, Seq("lang"))
      .select(col("lang"), col("n"), col("total"), col("n_distinct"),
        col("distinct_ratio"), col("entropy_nano"))
  }

  /**
   * Log2-bucketed document-length histogram per group (the datacard length
   * curve: sequence-length distributions drive chunk/pack/batch sizing).
   * Bucket = ⌊log2(n_tokens)⌋ + 1, computed EXACTLY as the bit length of
   * the integer (`length(bin(n))` — both engines; no float log2 whose
   * value at exact powers of two is library-dependent); empty/null docs land
   * in bucket 0. Everything is integer arithmetic — counts, token sums,
   * bucket min/max — so the histogram replays exactly.
   *
   * Scale shape: one scan reducing each doc to (group, n_tokens); one
   * map-side-combinable groupBy on (group, bucket) — count(*) cost.
   */
  def lengthHistogram(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val n = coalesce(token_count(col(textCol)).cast("long"), lit(0L))
    df.select(col(groupCol).as("grp"), n.as("n_tokens"))
      .withColumn("bucket",
        when(col("n_tokens") === 0L, lit(0))
          .otherwise(length(bin(col("n_tokens")))).cast("int"))
      .groupBy(col("grp"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
  }

  def collocations(df: DataFrame, textCol: String, minCount: Int = 5,
      topK: Int = 20): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    require(topK > 0, "topK must be positive")
    val tk = tokens(lower(col(textCol)))
    val uni = df.select(explode(tk).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val tot = uni.agg(sum(col("cw")).as("n"))
    val cb = df.select(tk.as("tk")).where(size(col("tk")) >= 2)
      .select(explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1)).cast(
        "array<struct<w1:string,w2:string>>")).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
      .where(col("c12") >= minCount)
    cb
      .join(uni.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c12"),
        round(log(col("c12").cast("double") * col("n").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double"))) * 1e9, 0)
          .cast("long").as("pmi_nano"))
      .orderBy(col("pmi_nano").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /**
   * Exact phrase search ("find documents containing this exact k-token
   * run") — the curation lookup BM25 cannot answer (keyword scoring has no
   * adjacency): a k-token phrase IS a k-shingle, so membership is one
   * native [[graft.functions.GraftFunctions.shingle_hashes]] pass and an
   * `array_contains` — scan bandwidth, zero shuffle, no postings index.
   * The phrase's own hash is computed through the SAME expression on a
   * one-row frame, so engine-internal hashing can never diverge from the
   * corpus-side pass. Occurrence count = `size − size(array_remove)`, all
   * native array ops.
   *
   * Returns (idCol, n_occurrences > 0 docs only). Oracle contract: hashes
   * on the Spark side, token-window STRINGS on the SQL side (the q24/q74
   * postings precedent — 64-bit collisions are the accepted risk).
   */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
      phrase: String): DataFrame = {
    val k = phrase.trim.split("\\s+").count(_.nonEmpty)
    require(k >= 1, "phrase must contain at least one token")
    val spark = df.sparkSession
    val target = spark.range(1)
      .select(shingle_hashes(split(lit(phrase), " "), k).as("h"))
      .head().getSeq[Long](0).headOption
      .getOrElse(throw new IllegalArgumentException("unhashable phrase"))
    val hs = shingle_hashes(split(col(textCol), " "), k)
    df.select(col(idCol),
        (size(hs) - size(array_remove(hs, lit(target))))
          .cast("bigint").as("n_occurrences"))
      .where(col("n_occurrences") > 0)
  }

  /**
   * Corpus novelty CURVE (the crawl-growth monitor: "how much of each
   * day's content has never been seen before") — per snapshot day, the
   * fraction of that day's distinct shingles whose GLOBAL first
   * occurrence is that day. A flattening curve means the crawl is
   * re-fetching, not discovering.
   *
   * 100 TB shape: [[noveltyProfile]]'s discipline — text reduces to
   * (day, 64-bit shingle hash) pairs at the scan (native
   * [[graft.functions.GraftFunctions.shingle_hashes]], the one
   * string-touching pass) and never travels; the distinct, the per-hash
   * `min(day)` (map-side-combinable), and the per-day rollup all move
   * hash-width rows only. Oracle contract: hashes here, token-window
   * strings in SQL (the q24/q74/q78 postings precedent). Returns
   * (day, n_shingles, n_new, novelty_rate), one row per day.
   */
  def noveltyCurve(df: DataFrame, dayCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame = {
    val pairs = df.select(col(dayCol).as("d"),
        explode(array_distinct(
          shingle_hashes(split(col(textCol), " "), shingleSize))).as("h"))
      .distinct()
    val first = pairs.groupBy(col("h")).agg(min(col("d")).as("fd"))
    pairs.join(first, Seq("h"))
      .groupBy(col("d").as(dayCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("d") === col("fd"), 1L).otherwise(0L)).as("n_new"))
      .select(col(dayCol), col("n_shingles"), col("n_new"),
        round(col("n_new").cast("double") / col("n_shingles"), 6)
          .as("novelty_rate"))
  }

  /**
   * Tokenizer-vocabulary coverage report (the OOV-rate gauge a tokenizer
   * rollout tracks per language/source): build the corpus top-`vocabSize`
   * token vocabulary (count desc, token ties ascending — deterministic at
   * the boundary), then per group count tokens outside it.
   *
   * 100 TB shape: both passes move (token, count) pairs only — the
   * vocabulary is a top-k over the token-frequency table (a k-row heap via
   * the rank pattern at scale; here a straight limit) and broadcasts into
   * the coverage join; text never shuffles. Returns
   * (groupCol, n_tokens, n_oov, oov_rate).
   */
  def oovReport(df: DataFrame, groupCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val toks = df.select(col(groupCol).as("g"),
      explode(tokens(lower(col(textCol)))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1L).as("__v"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col(groupCol), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
  }

  /** Mojibake artifact patterns recognized by [[encodingQuality]]: the
    * classic UTF-8-read-as-Latin-1 double-encodings ("Ã©" for é, "â€™" for
    * a right single quote, …). A short high-precision list — the LOGIC
    * (codegen'd regexp_count at scan bandwidth) is what scales; a production
    * deployment extends the alternation. RE2-safe (plain alternation +
    * character classes) so the DuckDB oracle runs the IDENTICAL pattern. */
  val mojibakePattern: String = "Ã[©¨¤¶¼]|â€[™œ]"

  /**
   * Encoding-quality gate (the mojibake/corruption stage every web-crawl
   * cleaning pipeline runs before language ID): per-document counts of
   * U+FFFD replacement characters (a decoder already gave up), C0 control
   * characters outside tab/newline/CR (binary junk in a text field), and
   * double-encoded UTF-8 artifacts ([[mojibakePattern]]), with per-mille
   * thresholds decided in INTEGER cross-multiplied arithmetic (the
   * [[gopherQuality]] discipline — no float ratio to diverge between
   * engines). `keep` is the conjunction; null text fails every rule.
   *
   * Every counter is a codegen'd string primitive (length/replace deltas,
   * regexp_count) — zero shuffle, scan bandwidth; at 100 TB this rides the
   * ingest scan like [[gopherQuality]] and [[canonicalizeUrl]].
   * Returns (idCol, n_chars, n_replacement, n_control, n_mojibake,
   * r_replacement, r_control, r_mojibake, keep).
   */
  def encodingQuality(df: DataFrame, idCol: String, textCol: String,
      maxReplacementPerMille: Int = 1, maxControlPerMille: Int = 2,
      maxMojibake: Int = 0): DataFrame = {
    val t = col(textCol)
    val (nChars, nRepl, nCtl, nMoji) = encodingCounters(t)
    def rule(c: Column) = coalesce(c, lit(false))
    df.select(col(idCol), nChars.as("n_chars"), nRepl.as("n_replacement"),
        nCtl.as("n_control"), nMoji.as("n_mojibake"),
        rule(lit(1000L) * nRepl <= lit(maxReplacementPerMille.toLong) * nChars)
          .as("r_replacement"),
        rule(lit(1000L) * nCtl <= lit(maxControlPerMille.toLong) * nChars)
          .as("r_control"),
        rule(nMoji <= maxMojibake.toLong).as("r_mojibake"))
      .withColumn("keep",
        col("r_replacement") && col("r_control") && col("r_mojibake"))
  }

  /** [[encodingQuality]]'s counters as raw expressions — shared with
    * [[encodingKeep]] so the report and the gate can never disagree. */
  private def encodingCounters(t: Column): (Column, Column, Column, Column) = (
    length(t).cast("bigint"),
    (length(t) - length(replace(t, lit("�"), lit("")))).cast("bigint"),
    regexp_count(t, lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")).cast("bigint"),
    regexp_count(t, lit(mojibakePattern)).cast("bigint"))

  /** Column (predicate) form of [[encodingQuality]]'s `keep` rule — the
    * scan-level gate a STREAMING ingest composes with mixing and
    * decontamination: a pure codegen'd filter, no aggregation, no state,
    * so the whole chain stays an ingest-bandwidth plan. Null text fails
    * (same contract as the report form). */
  def encodingKeep(text: Column, maxReplacementPerMille: Int = 1,
      maxControlPerMille: Int = 2, maxMojibake: Int = 0): Column = {
    val (nChars, nRepl, nCtl, nMoji) = encodingCounters(text)
    def rule(c: Column) = coalesce(c, lit(false))
    rule(lit(1000L) * nRepl <= lit(maxReplacementPerMille.toLong) * nChars) &&
      rule(lit(1000L) * nCtl <= lit(maxControlPerMille.toLong) * nChars) &&
      rule(nMoji <= lit(maxMojibake.toLong))
  }

  /**
   * Length-bucketed inference batching (the serving/eval twin of
   * [[packDocuments]]): documents group into fixed-size batches of
   * SIMILAR token length so per-batch padding-to-max waste stays small —
   * the batch-manifest stage of an embedding/scoring pass over a corpus.
   * Docs band by `n_tokens div bandTokens`; inside a band, batch membership
   * is hash-order (`md5(id)` — deterministic across engines, runs, and
   * partitionings) cut into `batchSize`-row batches.
   *
   * `shards` is the skew bound (the [[packDocuments]] discipline): each
   * (band, shard) runs its own window partition, so one dominant band —
   * most of a real corpus sits in a few length bands — never serializes
   * into a single sort; batch ids stay disjoint via
   * `local_batch · shards + shard`. Shuffled rows are (id, n_tokens) pairs
   * only — text never moves. Null text batches as zero tokens.
   *
   * Returns one manifest row per batch: (band, batch_id, n_docs,
   * batch_max_tokens, batch_tokens, padding_waste) where padding_waste =
   * n_docs · batch_max_tokens − batch_tokens, the padding cost the
   * length-bucketing exists to minimize.
   */
  def lengthBatches(df: DataFrame, idCol: String, textCol: String,
      batchSize: Int, bandTokens: Int = 128, shards: Int = 1): DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    require(bandTokens > 0, "bandTokens must be positive")
    require(shards > 0, "shards must be positive")
    import org.apache.spark.sql.expressions.Window
    val nTok = coalesce(token_count(col(textCol)).cast("bigint"), lit(0L))
    val hk = md5_prefix60(col(idCol).cast("string"))
    val base = df.select(col(idCol).as("id"), nTok.as("n_tokens"),
      floor(nTok / lit(bandTokens.toLong)).cast("bigint").as("band"),
      pmod(hk, lit(shards.toLong)).cast("bigint").as("shard"), hk.as("__hk"))
    val w = Window.partitionBy(col("band"), col("shard"))
      .orderBy(col("__hk"), col("id"))
    base
      .withColumn("__rk", row_number().over(w).cast("bigint"))
      .withColumn("batch_id",
        (floor((col("__rk") - 1L) / lit(batchSize.toLong)).cast("bigint")
          * lit(shards.toLong) + col("shard")).cast("bigint"))
      .groupBy(col("band"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tokens")).as("batch_max_tokens"),
        sum(col("n_tokens")).as("batch_tokens"))
      .withColumn("padding_waste",
        col("n_docs") * col("batch_max_tokens") - col("batch_tokens"))
  }

  /**
   * Iterative BPE merge training (the tokenizer-training loop [[bpePairStats]]
   * bootstraps — Sennrich et al. 2016): `rounds` greedy merge rounds over the
   * corpus word-frequency dictionary. Each round counts adjacent symbol
   * pairs weighted by word frequency, picks the argmax (count desc, then
   * left/right symbol ascending — fully deterministic), and merges that pair
   * everywhere before the next round.
   *
   * The corpus is scanned ONCE (words → frequency dictionary, the
   * [[bpePairStats]] collapse); every round after that is vocabulary-sized
   * work over the persisted dictionary plus one 1-row driver collect (the
   * bounded-collect contract of the IVF/PQ trainers). Words are restricted
   * to `^[a-z]+$` so the `|` symbol separator and `@` merge marker can
   * never collide with content.
   *
   * Merge application is `replace(enc, "|L|R|", "|L@R|")` — leftmost
   * non-overlapping, single pass, IDENTICAL semantics in Spark and DuckDB,
   * which is the documented deviation from classic left-to-right BPE on
   * runs of 3+ repeated symbols (the second of two abutting occurrences
   * merges a round later; pair counts see the leftover and converge). The
   * whole loop therefore replays exactly in SQL — each oracle round is the
   * same argmax + replace over the previous round's dictionary.
   *
   * Returns one row per round: (round, merge_left, merge_right, pair_count)
   * with the '@' markers stripped from the reported subword strings.
   */
  def bpeMerges(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds > 0, "rounds must be positive")
    val spark = df.sparkSession
    val words = bpeDict(df, textCol)
      .select(concat(lit("|"),
        regexp_replace(col("word"), "(.)", "$1|")).as("enc"), col("wn"))
      .persist()
    try {
      words.count() // materialize once; every round reuses the tiny dictionary
      val picked = bpeTrainRaw(words, rounds)
      import spark.implicits._
      picked
        .map { case (r, l, rr, n) =>
          (r, l.replace("@", ""), rr.replace("@", ""), n) }
        .toDF("round", "merge_left", "merge_right", "pair_count")
    } finally words.unpersist()
  }

  /** Lower-cased alphabetic word-frequency dictionary — the vocabulary-sized
    * collapse every per-word text operator runs on instead of the corpus. */
  private def bpeDict(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(lower(col(textCol)))).as("word"))
      .where(col("word").rlike("^[a-z]+$") && length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wn"))

  /** The greedy merge loop over a persisted `(enc, wn)` dictionary. Returns
    * the picked merges in their RAW symbol form — sub-merge boundaries kept
    * as '@' (round 3 may merge symbol "t@h" with "e") — which is exactly what
    * [[bpeEncodeExpr]] needs to REPLAY the merges on new words; [[bpeMerges]]
    * strips the markers for the user-facing table. One 1-row collect per
    * round (the argmax), bounded by `rounds`. */
  private def bpeTrainRaw(words: DataFrame,
      rounds: Int): Seq[(Int, String, String, Long)] = {
    var enc: Column = col("enc")
    val picked = Seq.newBuilder[(Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val syms = filter(split(enc, "\\|"), s => s =!= "")
      val len = greatest(size(syms) - 1, lit(0))
      val top = words
        .select(col("wn"), explode(arrays_zip(
          slice(syms, lit(1), len),
          slice(syms, lit(2), len)).cast(
          "array<struct<l:string,r:string>>")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wn")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      require(top.nonEmpty, s"no pairs left to merge at round $r")
      val lSym: String = top(0).getString(0)
      val rSym: String = top(0).getString(1)
      val n: Long = top(0).getLong(2)
      picked += ((r, lSym, rSym, n))
      enc = replace(enc, lit(s"|$lSym|$rSym|"), lit(s"|$lSym@$rSym|"))
    }
    picked.result()
  }

  /** Column expression encoding `word` with a trained raw-merge sequence:
    * char-split to `|w|o|r|d|`, then each merge applied in training order
    * with the same left-to-right non-overlapping `replace` semantics the
    * trainer used (and DuckDB's `replace` shares — the oracle replays this
    * byte-for-byte). */
  private def bpeEncodeExpr(word: Column,
      rawMerges: Seq[(Int, String, String, Long)]): Column =
    rawMerges.foldLeft(
      concat(lit("|"), regexp_replace(word, "(.)", "$1|"))) {
      case (enc, (_, l, r, _)) =>
        replace(enc, lit(s"|$l|$r|"), lit(s"|$l@$r|"))
    }

  /**
   * Tokenizer application + fertility report: train `rounds` BPE merges on
   * the corpus's global word dictionary ([[bpeMerges]]' exact rule), ENCODE
   * the dictionary with them, and report per-language tokenizer quality —
   * fertility (tokens per word; the multilingual-tokenizer-equity metric:
   * a tokenizer trained on English-heavy data spends more tokens per word
   * on underrepresented languages) and chars-per-token (compression). This
   * is the evaluate half of the tokenizer loop whose train half is
   * [[bpeMerges]]: train → apply → measure, all engine-replayable.
   *
   * Scale shape: the corpus collapses ONCE to a (lang, word, count)
   * dictionary (vocabulary-sized — Heaps' law keeps it millions of rows at
   * 100 TB); training and encoding both run on dictionaries, never re-touch
   * the corpus; the per-round argmax is a 1-row collect. The final report is
   * a #langs-row aggregate of exact integer sums (token/char totals are
   * bigint arithmetic — the ratios are the only doubles, derived at the end).
   */
  def bpeFertility(df: DataFrame, langCol: String, textCol: String,
      rounds: Int): DataFrame = {
    require(rounds > 0, "rounds must be positive")
    val wl = df.select(col(langCol).as("lang"),
        explode(tokens(lower(col(textCol)))).as("word"))
      .where(col("word").rlike("^[a-z]+$") && length(col("word")) >= 2)
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("wn"))
      .persist()
    try {
      wl.count() // one corpus scan; trainer + encoder reuse the dictionary
      val global = wl.groupBy(col("word")).agg(sum(col("wn")).as("wn"))
        .select(concat(lit("|"),
          regexp_replace(col("word"), "(.)", "$1|")).as("enc"), col("wn"))
      val merges = bpeTrainRaw(global, rounds)
      val nt = size(filter(split(bpeEncodeExpr(col("word"), merges), "\\|"),
        s => s =!= "")).cast("long")
      wl.select(col("lang"), col("wn"), nt.as("nt"),
          length(col("word")).cast("long").as("nc"))
        .groupBy(col("lang"))
        .agg(sum(col("wn")).as("n_words"),
          sum(col("wn") * col("nt")).as("n_tokens"),
          round(sum(col("wn") * col("nt")).cast("double") /
            sum(col("wn")), 6).as("fertility"),
          round(sum(col("wn") * col("nc")).cast("double") /
            sum(col("wn") * col("nt")), 6).as("chars_per_token"))
    } finally wl.unpersist()
  }

  /**
   * Shared-prefix cache savings — the KV-cache planning report for
   * prefix-cached serving/training (vLLM-style automatic prefix caching;
   * common system prompts and templated documents share their first
   * tokens): group documents by their first `k` tokens (all tokens when a
   * doc is shorter) and report, per shared prefix with at least two
   * members, how many prefill tokens a prefix cache saves —
   * `(n_docs − 1) · prefix_tokens` (the first member pays, the rest hit).
   * Grouping key is the 60-bit md5 of the space-joined prefix, so the
   * report replays in SQL. Returns (prefix_hash, prefix_tokens, n_docs,
   * tokens_saved), multi-member groups only.
   *
   * Scale shape: one scan reducing each doc to (60-bit hash, prefix
   * length), one map-side-combined groupBy — text never shuffles.
   */
  def prefixCacheSavings(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val toks = graft.functions.GraftFunctions.tokens(col(textCol))
    val prefix = slice(toks, 1, k)
    df.where(col(textCol).isNotNull)
      .select(
        graft.functions.GraftFunctions.md5_prefix60(
          array_join(prefix, " ")).as("prefix_hash"),
        size(prefix).cast("long").as("prefix_tokens"))
      .groupBy(col("prefix_hash"), col("prefix_tokens"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") > 1)
      .select(col("prefix_hash"), col("prefix_tokens"), col("n_docs"),
        ((col("n_docs") - 1) * col("prefix_tokens")).as("tokens_saved"))
  }

  private def hashedShingleSets(d: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    d.select(col(idCol).as("id"),
      array_distinct(shingle_hashes(split(col(textCol), " "), shingleSize)).as("th"))

  /** Join per-doc hit counts back onto sizes; absent docs are clean (0). */
  private def assemble(testH: DataFrame, hits: DataFrame, idCol: String): DataFrame =
    testH.select(col("id"), size(col("th")).cast("bigint").as("n_shingles"))
      .join(hits, Seq("id"), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .select(col("id").as(idCol), col("n_shingles"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6)
          .as("contamination_rate"))

  // ------------------------------------ cross-document substring-level dedup

  /**
   * Cross-document duplicated-n-gram ratio — the exact-substring dedup
   * SIGNAL of the training-data literature ("deduplicating training data
   * makes language models better"): for each document, the fraction of its
   * DISTINCT word n-grams that occur in at least `minDocs` documents
   * corpus-wide (itself included — `minDocs = 2` means "appears in some
   * OTHER doc too"). High-ratio documents are templated/mirrored/boiler-
   * plate candidates for trimming or downweighting; unlike [[boilerplate]]
   * (intra-doc repetition) the evidence here is CROSS-doc. Scale shape:
   * one string-touching pass hashes shingles ([[shingle_hashes]], native),
   * then two shuffles on the 64-bit shingle hash (document frequency +
   * join back) — never all-pairs, never shuffling text. Returns
   * (id, n_ngrams, n_duplicated, dup_ratio), short docs following the
   * shingle contract (len < n ⇒ one whole-text shingle).
   */
  def crossDocNgramDupRatio(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDocs: Int = 2): DataFrame = {
    require(n > 0 && minDocs > 0, "n and minDocs must be positive")
    val sh = df.select(col(idCol).as("id"),
      explode(array_distinct(
        shingle_hashes(split(col(textCol), " "), n))).as("g"))
    // distinct per (id, g) by construction, so count(1) per g counts docs
    val docFreq = sh.groupBy(col("g")).agg(count(lit(1)).as("__df_docs"))
    sh.join(docFreq, Seq("g"))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("bigint").as("n_ngrams"),
        sum(when(col("__df_docs") >= minDocs, 1L).otherwise(0L))
          .as("n_duplicated"))
      .select(col("id").as(idCol), col("n_ngrams"), col("n_duplicated"),
        round(col("n_duplicated").cast("double") / col("n_ngrams"), 6)
          .as("dup_ratio"))
  }

  /**
   * Corpus-wide CHUNK dedup — first-occurrence-wins exact dedup at
   * sub-document granularity (the tractable form of exact-substring
   * dedup real pipelines ship: fixed windows instead of suffix arrays).
   * Each document splits into non-overlapping `chunkWords`-word chunks;
   * a chunk whose exact text already occurred EARLIER in the corpus
   * (global (doc, position) order — min (id, pos) wins) is DROPPED, and
   * each document's survivors reassemble in position order. The repeated
   * span is kept exactly once corpus-wide, where a doc-level dedup would
   * either keep both documents or lose the non-shared content. Scale
   * shape: chunks shuffle by their 64-bit hash (winner election + join
   * back), reassembly is one per-doc aggregation — no all-pairs, and the
   * only wide rows carry (id, pos, chunk). Returns
   * (id, n_chunks, n_dropped, text_deduped); a fully-deduplicated
   * document survives with empty text (the caller's drop rule, not ours).
   */
  def dedupeChunks(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 20): DataFrame = {
    require(chunkWords > 0, "chunkWords must be positive")
    val chunks = df
      .select(col(idCol).as("id"),
        filter(split(col(textCol), " "), t => t =!= "").as("__toks"))
      .where(size(col("__toks")) > 0)
      .select(col("id"), posexplode(transform(
        sequence(lit(0),
          ceil(size(col("__toks")).cast("double") / chunkWords)
            .cast("int") - 1),
        i => concat_ws(" ",
          slice(col("__toks"), i * chunkWords + 1, lit(chunkWords))))))
      .toDF("id", "pos", "chunk")
    // winner election keys on the chunk TEXT, not a 64-bit hash: at
    // billions of chunks a hash collision would silently drop a
    // non-duplicate (the shuffle hashes the string internally either way)
    val winners = chunks
      .groupBy(col("chunk"))
      .agg(min(struct(col("id"), col("pos"))).as("__w"))
    chunks
      .join(winners, Seq("chunk"))
      .select(col("id"), col("pos"), col("chunk"),
        (col("__w.id") === col("id") && col("__w.pos") === col("pos"))
          .as("__keep"))
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("bigint").as("n_chunks"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(
            when(col("__keep"), struct(col("pos"), col("chunk"))))),
          s => s("chunk")), " ").as("text_deduped"))
      .select(col("id").as(idCol), col("n_chunks"), col("n_dropped"),
        col("text_deduped"))
  }
}
