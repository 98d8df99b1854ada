package graft.text

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.IndexTable.{Bm25Df, Bm25Doclen, Bm25Tf, Bm25Totals}

/** Text analysis for a training-data pipeline over the `documents` table:
  * tokenization, token counting, quality scoring, language ID, and
  * document fingerprinting. All pure column expressions (codegen'd,
  * whole-stage-fusable) — no UDFs, so a 100 TB corpus scans at parquet
  * speed with these fused into the scan projection.
  */
object TextStats {

  /** Whitespace tokenization, robust to repeated/leading/trailing
    * whitespace — semantics identical to
    * `split(trim(regexp_replace(text, "\s+", " ")), " ")` (expressible in
    * ANSI SQL for oracle parity), but computed by the native
    * [[graft.functions.TokensExpr]] single scan instead of two regex
    * passes: tokenization is the inner loop of the whole text stack.
    */
  def tokens(text: Column): Column =
    org.apache.spark.sql.GraftColumn(
      graft.functions.TokensExpr(org.apache.spark.sql.GraftColumn.expr(text)))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish pre-tokenizer split: letter runs, digit runs, or a single
    * non-alphanumeric symbol — the segmentation byte-pair tokenizers
    * apply before merges. Counting these approximates the post-merge
    * token count far better than whitespace words (punctuation and
    * number chunks count separately).
    */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeTokenPattern)) // counts without materializing matches

  /** Quality features: char/token counts, mean token length, stopword
    * ratio, uppercase ratio. Doubles come only from single divisions of
    * exact ints — deterministic across engines.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is", "on")

  def stopwordCount(text: Column): Column = {
    val toks = tokens(lower(text))
    size(filter(toks, t => Stopwords.map(s => t === lit(s)).reduce(_ || _)))
  }

  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_chars", length(t).cast("long"))
      .withColumn("n_tokens", tokenCount(t).cast("long"))
      .withColumn("n_stopwords", stopwordCount(t).cast("long"))
      .withColumn("mean_token_len",
        (col("n_chars") - (col("n_tokens") - lit(1))).cast("double") / col("n_tokens"))
      .withColumn("stopword_ratio", col("n_stopwords").cast("double") / col("n_tokens"))
  }

  /** Language ID by stopword-dictionary hit counting (n-gram-free
    * heuristic): count tokens from each language's function-word list,
    * argmax with deterministic tiebreak by language code. Dictionary
    * approach chosen over char-n-gram models so the identical logic is
    * expressible in the DuckDB oracle.
    */
  val LangDicts: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "und", "die", "das", "ist"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val toks = tokens(lower(text))
    LangDicts.map { case (lang, dict) =>
      lang -> size(filter(toks, t => dict.map(s => t === lit(s)).reduce(_ || _)))
    }
  }

  def langId(df: DataFrame, textCol: String): DataFrame =
    predictFromScores(df, langScores(col(textCol)))

  /** Shared argmax machinery for any per-language score battery:
    * attach `score_<lang>` columns and `pred_lang` = argmax score,
    * ties → lexicographically first language, all-zero → "unknown".
    */
  private def predictFromScores(df: DataFrame,
                                scores: Seq[(String, Column)]): DataFrame = {
    val scored = scores.foldLeft(df) { case (acc, (lang, c)) =>
      acc.withColumn(s"score_$lang", c)
    }
    val best = scores.map { case (lang, _) =>
      struct(col(s"score_$lang").as("s"), lit(lang).as("l"))
    }
    scored.withColumn("pred_lang",
      when(greatest(best.map(_.getField("s")): _*) === 0, lit("unknown"))
        .otherwise(element_at(
          array_sort(array(best: _*),
            (a, b) => when(a.getField("s") > b.getField("s"), -1)
              .when(a.getField("s") < b.getField("s"), 1)
              .when(a.getField("l") < b.getField("l"), -1)
              .when(a.getField("l") > b.getField("l"), 1)
              .otherwise(0)), 1).getField("l")))
  }

  /** Character-n-gram PROFILE language ID (Cavnar & Trenkle 1994's
    * n-gram categorization, reduced to a fixed weighted profile per
    * language): score(lang) = Σ over profile grams of
    * occurrences(gram) × weight, computed with the exact
    * `(len(t) − len(replace(t, g))) / len(g)` counting identity —
    * ALL-INTEGER arithmetic, map-only, fused into the scan, and
    * expressible verbatim in the DuckDB oracle (which is generated
    * from this same literal, so engine and oracle cannot desync).
    * Word-boundary grams carry surrounding spaces (text is padded);
    * diacritics and CJK characters are the high-weight discriminators
    * (a script is the strongest language signal there is). Replaces
    * the stopword-dictionary [[langId]] as the quality path — the
    * dictionary scorer measured at chance on real multilingual text
    * with any vocabulary outside its 5-word lists (round-8 verdict);
    * this one is gated at 10/10 on the constructed fixture
    * (q187/LangIdSpec) against a 0.3 max-class prior.
    */
  val LangProfiles: Seq[(String, Seq[(String, Int)])] = Seq(
    "de" -> Seq(" der " -> 3, " die " -> 3, " das " -> 3, " und " -> 3,
      " ist " -> 3, " den " -> 2, " ein " -> 2, " zu " -> 2, "sch" -> 2,
      "ch" -> 1, "ei" -> 1, "ä" -> 4, "ö" -> 4, "ü" -> 4, "ß" -> 4),
    "en" -> Seq(" the " -> 3, " and " -> 3, " of " -> 3, " to " -> 3,
      " is " -> 3, " that " -> 2, " this " -> 2, "ing " -> 2, "th" -> 1),
    "es" -> Seq(" el " -> 3, " la " -> 3, " los " -> 3, " que " -> 3,
      " es " -> 3, " de " -> 2, " una " -> 2, " ser " -> 2, "ción" -> 4,
      "ñ" -> 4, "á" -> 4, "í" -> 4, "ó" -> 4),
    "fr" -> Seq(" le " -> 3, " la " -> 3, " les " -> 3, " et " -> 3,
      " des " -> 3, " est " -> 3, " une " -> 2, " qui " -> 2, "eux" -> 2,
      "é" -> 4, "è" -> 4, "ê" -> 4, "à" -> 4, "ç" -> 4),
    "zh" -> Seq("的" -> 4, "一" -> 4, "是" -> 4, "不" -> 4, "了" -> 4,
      "人" -> 4, "我" -> 4, "在" -> 4, "这" -> 4, "个" -> 4))

  def langNgramScores(text: Column): Seq[(String, Column)] = {
    // pad so word-boundary grams match at string edges too
    val t = concat(lit(" "), lower(text), lit(" "))
    LangProfiles.map { case (lang, profile) =>
      lang -> profile.map { case (g, w) =>
        ((length(t) - length(replace(t, lit(g)))) / g.length * w).cast("long")
      }.reduce(_ + _)
    }
  }

  def langIdNgram(df: DataFrame, textCol: String): DataFrame =
    predictFromScores(df, langNgramScores(col(textCol)))

  /** Constructed multilingual gate fixture (q187 / LangIdSpec): real
    * sentences with KNOWN languages — the synthetic corpus's `lang`
    * labels are decorrelated from its (English-token) text by
    * construction (q179 measured it), so an accuracy gate is only
    * meaningful on a corpus where the label actually describes the
    * text. Apostrophe-free on purpose (shared verbatim with the
    * oracle's VALUES literal). (id, true_lang, text).
    */
  val LangFixture: Seq[(Long, String, String)] = Seq(
    (1L, "en", "the quick brown fox jumps over the lazy dog and runs to the forest"),
    (2L, "en", "this is a simple sentence that should be easy to classify"),
    (3L, "en", "reading and writing are skills that improve with practice"),
    (4L, "de", "der schnelle braune fuchs springt über den faulen hund und läuft in den wald"),
    (5L, "de", "das ist ein einfacher satz der leicht zu erkennen sein sollte"),
    (6L, "de", "die kinder spielen im garten und das wetter ist schön"),
    (7L, "es", "el rápido zorro marrón corre por el campo y salta sobre el perro"),
    (8L, "es", "esta es una oración sencilla que debería ser fácil de clasificar"),
    (9L, "es", "los niños juegan en el parque cuando hace buen tiempo"),
    (10L, "fr", "le renard brun rapide saute par dessus le chien paresseux et court vers la forêt"),
    (11L, "fr", "une phrase simple qui devrait être facile à classer"),
    (12L, "fr", "les enfants jouent dans le jardin et le temps est agréable"),
    (13L, "zh", "敏捷的棕色狐狸跳过了懒惰的狗然后跑进了森林"),
    (14L, "zh", "这是一个应该很容易分类的简单句子"),
    (15L, "zh", "我们在公园里散步因为今天天气很好"))

  /** Polynomial rolling-hash fingerprint over the token stream:
    * h = Σ tok_hash(t_i) · 31^(n-1-i)  (mod p = 1e9+7), with
    * tok_hash = xxhash64 mod p. Computed with the `aggregate` higher-order
    * function — one pass, no shuffle, no UDF. Kept below 2^35 so the
    * multiply never overflows under ANSI arithmetic.
    */
  def fingerprint(text: Column): Column = {
    val p = lit(1000000007L)
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * lit(31L) + pmod(xxhash64(t), p), p))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every token `k`-gram,
    * slide a window of `w` consecutive hashes, and in each window
    * select the RIGHTMOST minimal hash (the paper's robust-winnowing
    * tie rule); the deduplicated (position, hash) selections are the
    * doc's fingerprint set. Guarantees every `w`-window contributes a
    * fingerprint (no match of length ≥ w+k−1 tokens is missed) at an
    * expected density of 2/(w+1) — the position-robust subsample that
    * plain modulo-selection (0 mod p) cannot guarantee. Documents
    * shorter than one window winnow their whole gram sequence as a
    * single window.
    *
    * Scale shape: map-only — the gram array, its hash array, and the
    * per-window argmin folds all stay inside one projection fused into
    * the scan; per-row state is doc-sized and NOTHING shuffles (the
    * explode to (doc, pos, fp) rows is pipelined). Hashing uses the
    * engine-portable md5-prefix convention shared with
    * [[hashedTfidf]], so the DuckDB oracle replays selection
    * bit-for-bit. Returns `(doc_id, pos, fp)` sorted within doc.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got k=$k w=$w")
    val toks = filter(tokens(col(textCol)), t => t =!= lit(""))
    val grams = Dedup.shinglesOfTokens(toks, k)
    // MATERIALIZE the hash array as a projected column before the
    // window folds: Catalyst does not CSE an expression referenced
    // from inside a lambda, so indexing the `hashes` EXPRESSION from
    // the fold would re-run the whole-doc md5 transform once per
    // (window, step) — O(n²·w) md5 calls per document (measured: 147 s
    // at sf0.1 vs ~1 s with the column reference; the bench caught it).
    // spread the scan (guide §2.2): the per-doc md5 transform + w-window
    // argmin folds are the operator's whole cost and run fused into the
    // scan — one task on a single-file input (8→32-core ratio ≈1.1 for
    // the q217/q223 family in BENCH_r14); identity at scale
    val hashed = graft.engine.Layout.spreadForCompute(df)
      .select(col(idCol).cast("long").as("doc_id"),
        transform(grams,
          g => conv(substring(md5(g), 1, 8), 16, 10).cast("long")).as("_h"))
    val n = size(col("_h"))
    // window starts: 0 .. n-w (just [0] when the doc is shorter)
    val starts = sequence(lit(0), greatest(n - lit(w), lit(0)))
    val sels = transform(starts, i =>
      aggregate(sequence(i, least(i + lit(w - 1), n - lit(1))),
        struct(lit(Long.MaxValue).as("h"), lit(-1).as("p")),
        (acc, j) => {
          val h = element_at(col("_h"), j + 1)
          // <= not <: equal-minimum resolves to the RIGHTMOST position
          when(h <= acc.getField("h"), struct(h.as("h"), j.as("p")))
            .otherwise(acc)
        }))
    hashed.select(col("doc_id"), explode(array_distinct(sels)).as("_s"))
      .select(col("doc_id"), col("_s").getField("p").cast("long").as("pos"),
        col("_s").getField("h").as("fp"))
  }

  /** Winnowing-fingerprint overlap pairs (the match-detection step
    * MOSS runs over [[winnowFingerprints]] selections): document pairs
    * sharing at least `minShared` DISTINCT fingerprints, scored by
    * containment n_shared / min(n_a, n_b). Winnowing's coverage
    * guarantee makes this sound for substring overlap — any shared
    * token run of length ≥ w+k−1 selects at least one common
    * fingerprint — at ~2/(w+1) of the cost of joining full shingle
    * sets (the doc-level analog of [[Dedup.corpusOverlap]]'s
    * slice-level inverted index, subsampled without losing matches).
    *
    * Scale shape: fingerprinting is map-only; the (doc, fp) relation
    * persists once and feeds the guard, sizes, and both join sides.
    * ONE fp-keyed self-join whose per-key expansion is bounded by the
    * hottest fingerprint — REFUSED past `hotFpCap`, because an fp
    * shared by h docs builds an h² bucket and, unlike the AllPairs
    * prefix scheme, an overlap COUNT cannot drop hot witnesses without
    * changing the answer. Per-doc sizes join back `shuffle_hash`
    * (corpus-sized — never broadcast). `containment` is the unrounded
    * exact-integer quotient (the q107 rounding-tie discipline).
    */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4, minShared: Long = 2L,
                         hotFpCap: Long = graft.ops.GuardBounds.HotFingerprintCap): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val fps = graft.engine.Caches.persisted("winnowOverlap.fps",
      winnowFingerprints(df, idCol, textCol, k, w)
        .select(col("doc_id"), col("fp")).distinct())
    val hottest = fps.groupBy(col("fp")).agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("m"))
      .first().getLong(0)
    require(hottest <= hotFpCap,
      s"winnowOverlapPairs: hottest fingerprint is shared by $hottest " +
        s"docs (> hotFpCap=$hotFpCap) — the fp-keyed self-join would " +
        s"build a quadratic bucket; strip boilerplate or raise k/w first")
    val sizes = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val a = fps.select(col("doc_id").as("doc_a"), col("fp"))
    val b = fps.select(col("doc_id").as("doc_b"), col("fp"))
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.hint("shuffle_hash")
        .select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")), Seq("doc_a"))
      .join(sizes.hint("shuffle_hash")
        .select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        (col("n_shared") / least(col("n_a"), col("n_b"))).as("containment"))
  }

  /** Count-min-sketch heavy-hitter audit (Cormode & Muthukrishnan
    * 2005): count every token `n`-gram into a `depth × width` CMS
    * (double hashing off the engine-portable md5 prefix/suffix pair,
    * bucket_r = (h1 + r·h2) mod width), then report, for the exact
    * top-`topK` grams, the true count next to the CMS estimate
    * (min over rows) and its overestimate. The sketch is the
    * fixed-memory path to heavy-hitter n-grams on a stream or a
    * shuffle-constrained corpus; the audit measures what that memory
    * bound costs in overcount on THIS corpus before trusting it.
    * Every step is exact integer arithmetic on md5-derived hashes —
    * the oracle replays sketch AND estimates bit-for-bit.
    *
    * Scale shape: grams explode map-side; the sketch aggregate is
    * (depth·width)-bounded state with map-side partial combine; the
    * exact top-k is one gram-keyed count (the same shuffle any
    * heavy-hitter ground truth needs) + a rank limit; estimates join
    * the top-k's probes against the BROADCAST sketch. Nothing
    * driver-sized, nothing quadratic.
    */
  def cmsHeavyHitters(df: DataFrame, textCol: String, n: Int,
                      depth: Int = 4, width: Int = 1024,
                      topK: Int = 20): DataFrame = {
    require(depth >= 1 && depth <= 16 && width >= 2,
      s"need 1 <= depth <= 16 and width >= 2, got depth=$depth width=$width")
    val grams = graft.engine.Caches.persisted("cms.grams",
      df.select(explode(Dedup.shinglesOfTokens(
          tokens(col(textCol)), n)).as("gram"))
        .filter(col("gram") =!= ""))
    val cms = cmsCells(grams, depth, width)
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("c"))
    val exact = grams.groupBy(col("gram")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("gram").asc).limit(topK)
    cmsCells(exact, depth, width).join(broadcast(cms), Seq("r", "bucket"))
      .groupBy(col("gram")).agg(min(col("c")).as("n_cms"))
      .join(exact, Seq("gram"))
      .select(col("gram"), col("n_exact"), col("n_cms"),
        (col("n_cms") - col("n_exact")).as("overestimate"))
  }

  /** Fixed probe grams for the persisted-sketch lookup gate (q230) —
    * a monitoring shape's watch list: three grams present in the
    * synthetic corpus, two absent (their estimates read collision
    * noise or 0). Parity never depends on presence — both engines
    * hash the same strings — so the literal is corpus-version-safe;
    * the oracle SQL is GENERATED from this list (the
    * langScoreSelectSql discipline).
    */
  val CmsProbeGrams: Seq[String] = Seq(
    "slow hash batch", "window fast query", "row column sort",
    "never seen gram", "zz yy xx")

  /** The (gram, r, bucket) probe cells of the double-hashed CMS — ONE
    * definition for sketch building, the audit's probes, and the
    * persisted-sketch lookups.
    */
  private def cmsCells(src: DataFrame, depth: Int, width: Int): DataFrame =
    src
      .select(col("gram"),
        conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long").as("_h1"),
        conv(substring(md5(col("gram")), 9, 8), 16, 10).cast("long").as("_h2"))
      .select(col("gram"), col("_h1"), col("_h2"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .select(col("gram"), col("r"),
        pmod(col("_h1") + col("r") * col("_h2"), lit(width.toLong)).as("bucket"))

  /** Persist the CMS cell table — the counting sketch's OPERATIONAL
    * lifecycle, completing the trio with [[buildHllRegisters]]
    * (distincts) and [[buildKmvSamples]] (set overlap): the sketch is
    * depth×width cells on disk, appends ADD a batch's cells in
    * ([[appendCmsSketch]] — counts over disjoint streams are
    * additive, the CMS merge law), and point lookups of known grams
    * read the sketch alone ([[cmsLookupFromSketch]]) — the
    * monitoring shape (known-hot-gram counters on a growing corpus)
    * with NO corpus rescan and no per-gram exact aggregation. Layout:
    * `cms (r, bucket, c)` + `meta (depth, width, gram_n)`.
    */
  def buildCmsSketch(df: DataFrame, textCol: String, n: Int, path: String,
                     depth: Int = 4, width: Int = 1024): Unit = {
    require(depth >= 1 && depth <= 16 && width >= 2,
      s"need 1 <= depth <= 16 and width >= 2, got depth=$depth width=$width")
    val spark = df.sparkSession
    val grams = df.select(explode(Dedup.shinglesOfTokens(
        tokens(col(textCol)), n)).as("gram"))
      .filter(col("gram") =!= "")
    cmsCells(grams, depth, width)
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("c"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/cms")
    spark.range(1).select(lit(depth).as("depth"), lit(width).as("width"),
        lit(n).as("gram_n"))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  private[graft] def cmsSketchMeta(spark: org.apache.spark.sql.SparkSession,
                                   path: String): (Int, Int, Int) = {
    val r = spark.read.parquet(s"$path/meta").head()
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** ADD a committed batch's counts INTO the persisted sketch: cell
    * counts over disjoint gram streams are additive, so the merge is
    * a per-(r, bucket) SUM against the standing (depth·width)-bounded
    * cell table — one scan of the batch, constant standing-state work,
    * staged rewrite (the compactPartitions lazy-self-scan lesson).
    */
  def appendCmsSketch(spark: org.apache.spark.sql.SparkSession,
                      batch: DataFrame, textCol: String,
                      path: String): Unit = {
    val (depth, width, n) = cmsSketchMeta(spark, path)
    val grams = batch.select(explode(Dedup.shinglesOfTokens(
        tokens(col(textCol)), n)).as("gram"))
      .filter(col("gram") =!= "")
    val merged = spark.read.parquet(s"$path/cms")
      .unionByName(cmsCells(grams, depth, width)
        .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("c")))
      .groupBy(col("r"), col("bucket")).agg(sum(col("c")).as("c"))
    // crash-safe swap (round-12): the old delete-then-rename had a
    // window where a crash left the live cell table missing with only
    // manual recovery from the staging dir; stagedReplace swaps via
    // two atomic dir renames and self-heals on the next call
    graft.engine.Layout.stagedReplace(spark, s"$path/cms") { stg =>
      merged.repartition(1).write.mode("overwrite").parquet(stg)
    }
  }

  /** Point-lookup estimates for KNOWN grams from the PERSISTED sketch
    * alone — `(gram, n_cms)`, min over the depth rows, an absent cell
    * reading 0 (no occurrence hashed there in ANY row ⇒ the gram was
    * never counted). No corpus scan, no exact aggregation: the
    * production read path [[cmsHeavyHitters]] certifies on its audit
    * cadence (estimates are upper bounds — overcount by collision,
    * never undercount).
    */
  def cmsLookupFromSketch(spark: org.apache.spark.sql.SparkSession,
                          path: String, probes: Seq[String]): DataFrame = {
    require(probes.nonEmpty && probes.size <= 10000,
      s"probes must be 1..10000 grams, got ${probes.size}")
    val (depth, width, _) = cmsSketchMeta(spark, path)
    import spark.implicits._
    graft.engine.Layout.healStagedReplace(spark, s"$path/cms")
    val cms = spark.read.parquet(s"$path/cms")
    cmsCells(probes.toDF("gram"), depth, width)
      .join(cms.hint("broadcast"), Seq("r", "bucket"), "left")
      .groupBy(col("gram"))
      .agg(min(coalesce(col("c"), lit(0L))).as("n_cms"))
  }

  /** HyperLogLog distinct-count audit (Flajolet et al. 2007) over the
    * token `n`-gram vocabulary: hash every gram occurrence into
    * m = 2^p registers (bucket off the md5 prefix, rank = leading-zero
    * count of the md5 suffix via `33 − length(bin(h2))` — an exact
    * integer formulation both engines share), keep per-register MAX
    * rank (duplicate-insensitive by construction), and report the raw
    * HLL estimate next to the exact distinct count. The register sum
    * Σ 2^(−R_b) rides as the EXACT integer Σ 2^(33−R_b) (max rank 33 →
    * every term and the 1024-bucket sum fit a long), so the only
    * float is the final single division — correctly-rounded IEEE,
    * emitted UNROUNDED (q107 discipline) and replayed bit-for-bit.
    *
    * The audit says what 8 KB of register state buys in vocabulary-
    * size accuracy on THIS corpus — the fixed-memory path to distinct
    * n-grams per shard/stream where exact distinct would shuffle the
    * vocabulary. Scale shape: map-side explode, ONE m-bounded register
    * aggregate (map-side combine), plus the exact-distinct ground
    * truth (the shuffle the sketch would replace). One output row.
    */
  /** Batch-proportional APPEND form of [[winnowOverlapPairs]] (the
    * q161 incremental-dedup discipline applied to winnow overlap):
    * exactly the pairs a full recompute over `corpus ∪ batch` would
    * ADD — every pair with at least one batch-side doc — without
    * re-joining the standing corpus against itself. Winnowing is
    * per-doc, so batch fingerprints are a semi-join of the union
    * relation; the candidate join is fps(batch) ⋈ fps(all), whose
    * cost is batch-fingerprint-proportional (times hottest-fp
    * expansion, same refusal as the full form). New×new pairs arrive
    * in both orientations — the normalize+distinct on
    * (doc_a, doc_b, fp) collapses them before counting, which is what
    * keeps append ≡ full-minus-old exactly (law-pinned). Sizes come
    * off the union relation, so containment matches the full
    * recompute bit-for-bit.
    */
  def appendWinnowOverlapPairs(corpus: DataFrame, batch: DataFrame,
                               idCol: String, textCol: String,
                               k: Int = 3, w: Int = 4, minShared: Long = 2L,
                               hotFpCap: Long = graft.ops.GuardBounds.HotFingerprintCap): DataFrame = {
    val all = corpus.select(col(idCol), col(textCol))
      .unionByName(batch.select(col(idCol), col(textCol)))
    val fpsAll = graft.engine.Caches.persisted("winnowAppend.fpsAll",
      winnowFingerprints(all, idCol, textCol, k, w)
        .select(col("doc_id"), col("fp")).distinct())
    val newIds = batch.select(col(idCol).cast("long").as("doc_id")).distinct()
    appendWinnowOverlapPairsFromFps(fpsAll, newIds, minShared, hotFpCap)
  }

  /** [[appendWinnowOverlapPairs]] over a PRECOMPUTED (materialized)
    * `(doc_id, fp)` relation — the build/probe split: a standing
    * corpus persists its fingerprint relation once (winnowing is
    * map-only, so the batch's rows append with one scan of the BATCH)
    * and every append starts HERE, paying only the batch-proportional
    * candidate join. Measured at sf0.1, full-form q217 and self-
    * contained q223 both spend ~1 s re-fingerprinting the corpus per
    * call — this entry point is what removes that term from the
    * steady-state append loop (the buildSignatureIndex discipline).
    * ONE implementation under both forms, so indexed ≡ self-deriving
    * by construction.
    */
  def appendWinnowOverlapPairsFromFps(fpsAll: DataFrame, newIds: DataFrame,
                                      minShared: Long = 2L,
                                      hotFpCap: Long = graft.ops.GuardBounds.HotFingerprintCap): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val hottest = fpsAll.groupBy(col("fp")).agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("m"))
      .first().getLong(0)
    require(hottest <= hotFpCap,
      s"appendWinnowOverlapPairs: hottest fingerprint is shared by " +
        s"$hottest docs (> hotFpCap=$hotFpCap); strip boilerplate or " +
        "raise k/w first")
    val fpsNew = fpsAll.join(newIds, Seq("doc_id"), "left_semi")
    val shared = fpsNew.select(col("doc_id").as("_da"), col("fp"))
      .join(fpsAll.select(col("doc_id").as("_db"), col("fp")), Seq("fp"))
      .filter(col("_da") =!= col("_db"))
      .select(least(col("_da"), col("_db")).as("doc_a"),
        greatest(col("_da"), col("_db")).as("doc_b"), col("fp"))
      .distinct()
    val sizes = fpsAll.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    shared.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.hint("shuffle_hash")
        .select(col("doc_id").as("doc_a"), col("n_fp").as("n_a")), Seq("doc_a"))
      .join(sizes.hint("shuffle_hash")
        .select(col("doc_id").as("doc_b"), col("n_fp").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        (col("n_shared") / least(col("n_a"), col("n_b"))).as("containment"))
  }

  /** The HLL estimate numerator α_m·m²·2³³ — ONE definition shared by
    * [[hllDistinctAudit]] and the generated DuckDB oracle (embedded
    * via `Double.toString`, which round-trips bit-exactly), so the
    * engines cannot disagree on the constant.
    */
  def hllEstimateConst(p: Int): Double = {
    val m = 1 << p
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    alpha * m * m * math.pow(2.0, 33)
  }

  /** The HLL register frame — PRESENT buckets only, with optional
    * per-group keying: `(grp?, bucket, r)` where r = max leading-zero
    * rank of any gram hashed into the bucket. ONE definition shared
    * by [[hllDistinctAudit]] (global) and [[hllBySource]] (per-slice),
    * and the unit the merge law quantifies over: registers merge by
    * per-bucket MAX, which is exactly how HLL shards combine across
    * executors/partitions/days at any scale.
    */
  private[graft] def hllRegisterFrame(grams: DataFrame, grpCols: Seq[String],
                                      p: Int): DataFrame = {
    val m = 1 << p
    val keys = grpCols.map(col) :+ col("bucket")
    grams.select(grpCols.map(col) ++ Seq(
        pmod(conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long"),
          lit(m.toLong)).as("bucket"),
        conv(substring(md5(col("gram")), 9, 8), 16, 10).cast("long")
          .as("_h2")): _*)
      .select(grpCols.map(col) ++ Seq(col("bucket"),
        when(col("_h2") === 0L, lit(33))
          .otherwise(lit(33) - length(bin(col("_h2")))).as("r")): _*)
      .groupBy(keys: _*).agg(max(col("r")).as("r"))
  }

  private[graft] def gramStream(df: DataFrame, grpCols: Seq[String],
                                textCol: String, n: Int): DataFrame =
    // NOT spread (r15 A/B): unlike the winnow family, the sketch
    // consumers' cost is in their exchanges/joins (distinct, the exact
    // ground-truth join), not the per-gram md5 — a spreadForCompute here
    // measured flat-to-slower (q224 2.3→2.4 s, q227 1.8→2.1 s warm)
    df.select(grpCols.map(col) :+
        explode(Dedup.shinglesOfTokens(tokens(col(textCol)), n))
          .as("gram"): _*)
      .filter(col("gram") =!= "")

  def hllDistinctAudit(df: DataFrame, textCol: String, n: Int,
                       p: Int = 10): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    val m = 1 << p
    val c = hllEstimateConst(p)
    val grams = graft.engine.Caches.persisted("hll.grams",
      gramStream(df, Nil, textCol, n))
    val regs = hllRegisterFrame(grams, Nil, p)
    val spark = df.sparkSession
    val full = spark.range(m).select(col("id").as("bucket"))
      .join(regs, Seq("bucket"), "left")
      .select(coalesce(col("r"), lit(0)).as("r"))
    val s = full.agg(
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(33 - r AS INT))"))
        .cast("long").as("s_scaled"),
      sum(when(col("r") === 0, 1L).otherwise(0L)).cast("long").as("v_zero"))
    val exact = grams.agg(count_distinct(col("gram")).as("n_exact"))
    // v_zero = m ⟺ every register is 0 ⟺ zero grams: NULL estimates,
    // the same empty-input convention as hllBySource's all-empty slices
    s.crossJoin(exact).select(
      lit(m.toLong).as("m"), col("v_zero"), col("s_scaled"), col("n_exact"),
      when(col("v_zero") < m, lit(c) / col("s_scaled")).as("raw_est"),
      when(col("v_zero") < m && col("n_exact") > 0,
        lit(c) / col("s_scaled") / col("n_exact")).as("err_ratio"))
  }

  /** Per-slice HLL distinct audit off the SAME register math as
    * [[hllDistinctAudit]] — one register file per `grpCol` value, each
    * graded against its slice's exact distinct count. This is the
    * sketch's 100 TB shape: per-shard register files are 8 KB each,
    * combine by per-bucket MAX (the merge law proves shard-merge ≡
    * global), and never re-scan — the audit's per-slice error says
    * whether that lifecycle is trustworthy on THIS corpus. Slices with
    * no grams report v_zero = m and NULL estimates.
    */
  def hllBySource(df: DataFrame, grpCol: String, textCol: String, n: Int,
                  p: Int = 10): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    val m = 1 << p
    val c = hllEstimateConst(p)
    val grams = graft.engine.Caches.persisted("hll.srcGrams",
      gramStream(df, Seq(grpCol), textCol, n))
    val regs = hllRegisterFrame(grams, Seq(grpCol), p)
    val spark = df.sparkSession
    val grid = df.select(col(grpCol)).distinct()
      .crossJoin(spark.range(m).select(col("id").as("bucket")))
    val full = grid.join(regs, Seq(grpCol, "bucket"), "left")
      .select(col(grpCol), coalesce(col("r"), lit(0)).as("r"))
    val s = full.groupBy(col(grpCol)).agg(
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(33 - r AS INT))"))
        .cast("long").as("s_scaled"),
      sum(when(col("r") === 0, 1L).otherwise(0L)).cast("long").as("v_zero"))
    val exact = grams.groupBy(col(grpCol))
      .agg(count_distinct(col("gram")).as("n_exact"))
    s.join(exact, Seq(grpCol), "left")
      .select(col(grpCol), col("v_zero"), col("s_scaled"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        when(col("v_zero") < m, lit(c) / col("s_scaled")).as("raw_est"),
        when(col("v_zero") < m && coalesce(col("n_exact"), lit(0L)) > 0,
          lit(c) / col("s_scaled") / col("n_exact")).as("err_ratio"))
  }

  /** Persist per-group HLL register files — the sketch's OPERATIONAL
    * lifecycle (the buildSignatureIndex discipline applied to HLL):
    * registers are computed ONCE per standing corpus, appends merge
    * batch registers in by per-bucket MAX without rescanning anything
    * ([[appendHllRegisters]]), and distinct-count estimates read the
    * m-sized register file alone ([[hllEstimateFromRegisters]]). Each
    * group's file is ≤ m rows (8 KB of state at p=10) — the unit the
    * shard-merge law ([[hllRegisterFrame]]) proves combines to the
    * global answer. Layout: `registers (grp, bucket, r)` + `meta
    * (p, gram_n)` (consumers validate both, the indexShingleN
    * pattern).
    */
  def buildHllRegisters(df: DataFrame, grpCol: String, textCol: String,
                        n: Int, p: Int, path: String): Unit = {
    require(p >= 4 && p <= 16, s"p must be in [4, 16], got $p")
    val spark = df.sparkSession
    hllRegisterFrame(gramStream(df, Seq(grpCol), textCol, n), Seq(grpCol), p)
      .withColumnRenamed(grpCol, "grp")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/registers")
    spark.range(1).select(lit(p).as("p"), lit(n).as("gram_n"))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  private[graft] def hllRegisterMeta(spark: org.apache.spark.sql.SparkSession,
                                     path: String): (Int, Int) = {
    val r = spark.read.parquet(s"$path/meta").head()
    (r.getInt(0), r.getInt(1))
  }

  /** Merge a committed batch's registers INTO the persisted file — the
    * maintenance half: derive registers for the BATCH only (one scan
    * of the batch), per-(grp, bucket) MAX against the standing file,
    * staged rewrite (the file is m·groups rows — register-sized, never
    * corpus-sized, so the rewrite is constant work per commit). After
    * the call, estimates see corpus ∪ batch exactly as a rebuild
    * would (law: registers of a union are the bucketwise MAX).
    */
  def appendHllRegisters(spark: org.apache.spark.sql.SparkSession,
                         batch: DataFrame, grpCol: String, textCol: String,
                         path: String): Unit = {
    val (p, n) = hllRegisterMeta(spark, path)
    val batchRegs = hllRegisterFrame(
        gramStream(batch, Seq(grpCol), textCol, n), Seq(grpCol), p)
      .withColumnRenamed(grpCol, "grp")
    val merged = spark.read.parquet(s"$path/registers")
      .unionByName(batchRegs)
      .groupBy(col("grp"), col("bucket")).agg(max(col("r")).as("r"))
    // staged rewrite: overwriting the input of a lazy self-scan in
    // place would read nothing (the compactPartitions lesson); the
    // crash-safe swap (atomic renames + self-heal) is stagedReplace's
    graft.engine.Layout.stagedReplace(spark, s"$path/registers") { stg =>
      merged.repartition(1).write.mode("overwrite").parquet(stg)
    }
  }

  /** Distinct-count estimates from the PERSISTED register file alone —
    * no corpus scan. `perGroup = false` merges every group's registers
    * by bucket MAX first (the shard-merge law) and returns ONE global
    * row `(m, v_zero, s_scaled, raw_est)`; `perGroup = true` returns
    * one row per group `(grp, m, v_zero, s_scaled, raw_est)`. Exact
    * counts and err_ratio need the corpus — that is [[hllDistinctAudit]]
    * / [[hllBySource]]'s job on an audit cadence; this is the
    * production read path those audits certify.
    */
  def hllEstimateFromRegisters(spark: org.apache.spark.sql.SparkSession,
                               path: String,
                               perGroup: Boolean = false): DataFrame = {
    val (p, _) = hllRegisterMeta(spark, path)
    val m = 1 << p
    val c = hllEstimateConst(p)
    graft.engine.Layout.healStagedReplace(spark, s"$path/registers")
    val regs = spark.read.parquet(s"$path/registers")
    val keyed =
      if (perGroup) regs
      else regs.groupBy(col("bucket")).agg(max(col("r")).as("r"))
        .select(lit("_all").as("grp"), col("bucket"), col("r"))
    // grp set seeded with the literal "_all" row when global: an EMPTY
    // register file must still emit the full m-bucket grid and one
    // v_zero = m / NULL-estimate row — the empty-corpus convention
    // hllDistinctAudit standardized (ADVICE r11; the derived-grid form
    // returned zero rows there, so the two read paths disagreed)
    val grpSet =
      if (perGroup) keyed.select(col("grp")).distinct()
      else spark.range(1).select(lit("_all").as("grp"))
    val grid = grpSet
      .crossJoin(spark.range(m).select(col("id").as("bucket")))
    val full = grid.join(keyed, Seq("grp", "bucket"), "left")
      .select(col("grp"), coalesce(col("r"), lit(0)).as("r"))
    val s = full.groupBy(col("grp")).agg(
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(33 - r AS INT))"))
        .cast("long").as("s_scaled"),
      sum(when(col("r") === 0, 1L).otherwise(0L)).cast("long").as("v_zero"))
    val out = s.select(col("grp"), lit(m.toLong).as("m"), col("v_zero"),
      col("s_scaled"),
      when(col("v_zero") < m, lit(c) / col("s_scaled")).as("raw_est"))
    if (perGroup) out else out.drop("grp")
  }

  /** KMV (bottom-k / theta-sketch) slice-overlap audit (Beyer et al.
    * 2007): per slice keep the k SMALLEST distinct gram hashes; for
    * every slice pair, the k smallest of the merged samples estimate
    * |A∪B| as (k_eff−1)·2³²/θ (θ = the k_eff-th smallest) and the
    * sample rows present in BOTH bottom-k sets scale that to an
    * |A∩B| estimate — the set-INTERSECTION capability HLL registers
    * cannot provide. When the merged sample is NOT full (k_eff < k)
    * the union has fewer than k distinct hashes, so the sample IS the
    * union in hash space and standard KMV returns the EXACT count:
    * union_est = k_eff (the open estimator (k_eff−1)·2³²/θ reads
    * systematically low there — k_eff=1 would yield 0), and
    * inter_est = (c_inter·k_eff)/k_eff collapses to the exact
    * c_inter. Both estimates sit next to the exact
    * intersection/union ground truth (computed on the same hash
    * vocabulary), so the audit grades the k·8-byte-per-slice sketch
    * before it replaces the exact join in a slice-similarity sweep.
    *
    * Determinism: hashes are the md5-prefix family; ranks, θ, and
    * every count are exact integers; the two estimates are IEEE
    * divisions of exact integers in a fixed operation order — the
    * oracle replays all of it bit-for-bit.
    *
    * Scale shape: one (slice, hash) distinct shuffle; bottom-k via
    * one per-slice window (WindowGroupLimit-prunable); the pair grid
    * is slice²-bounded (REFUSED past `maxSlices`, the corpusOverlap
    * guard) and broadcast onto the k-row samples; exact ground truth
    * is the hash-keyed inverted-index join, expansion bounded by how
    * many SLICES share a hash.
    */
  /** The guarded (slice, hash) relation shared by [[kmvOverlap]] and
    * [[kmvOverlapAudit]]: distinct md5-prefix gram hashes per slice,
    * REFUSED past `maxSlices` (the corpusOverlap guard — the pair
    * grid downstream is slices²).
    */
  /** The slices² refusal shared by every KMV pair consumer — message
    * names the CALLING operator and labels the slice count as
    * n_slices (it used to say "kmvOverlapAudit ... at k=N" regardless
    * of caller, pointing diagnostics at the wrong function with a
    * mislabeled parameter — ADVICE r11).
    */
  private def requireSliceBound(fn: String, nSlices: Long,
                                maxSlices: Long): Unit =
    require(nSlices <= maxSlices,
      s"$fn is quadratic in slices " +
        s"(${nSlices * (nSlices - 1) / 2} pairs at n_slices=$nSlices > " +
        s"maxSlices=$maxSlices); aggregate slices first")

  private def kmvHashesGuarded(df: DataFrame, sliceCol: String,
                               textCol: String, n: Int,
                               maxSlices: Long, fn: String): DataFrame = {
    val hs = graft.engine.Caches.persisted("kmv.hashes",
      gramStream(df, Seq(sliceCol), textCol, n)
        .select(col(sliceCol).as("slice"),
          conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long").as("h"))
        .distinct())
    requireSliceBound(fn, hs.select(col("slice")).distinct().count(), maxSlices)
    hs
  }

  /** PRODUCTION form of the KMV slice-overlap sweep: the sketch
    * estimates alone — `(slice_a, slice_b, k_eff, theta, c_inter,
    * union_est, inter_est)` — without the exact ground-truth join the
    * audit carries. Measured honestly at sf0.1/20 slices the saving
    * is modest (~0.2 s of ~1.9 s warm: the shared (slice, hash)
    * DISTINCT dominates both forms there); the exact join is the term
    * whose cost grows with cross-slice hash overlap (its expansion is
    * data-dependent — how many slices share a hash), while the sketch
    * half is bounded by k·slices rows after the distinct — THAT is
    * why production sweeps drop it at scale. Shares the hash relation
    * and THE SAME estimate frame with [[kmvOverlapAudit]], so the
    * audited estimates ARE these estimates by construction — run the
    * audit on a sample cadence, this form on the full corpus.
    */
  def kmvOverlap(df: DataFrame, sliceCol: String, textCol: String,
                 n: Int, k: Int = 256,
                 maxSlices: Long = graft.ops.GuardBounds.MaxCorpusSlices): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    kmvEstimateFrame(
      kmvHashesGuarded(df, sliceCol, textCol, n, maxSlices, "kmvOverlap"), k)
  }

  /** Persist per-slice KMV bottom-k samples — the theta-sketch's
    * OPERATIONAL lifecycle (the [[buildHllRegisters]] discipline for
    * the overlap family): samples are k rows per slice on disk,
    * appends fold a batch in WITHOUT rescanning the corpus
    * ([[appendKmvSamples]] — sound because bottom-k(A ∪ B) ⊆
    * bottom-k(A) ∪ hashes(B), so the standing sample plus the batch's
    * hashes re-ranked IS the union's sample), and every slice-pair
    * union/intersection estimate reads the sample file alone
    * ([[kmvOverlapFromSamples]]). Estimates are IDENTICAL to
    * [[kmvOverlap]] on the same corpus by construction: the estimate
    * frame only ever consumes each slice's bottom-k set. Layout:
    * `samples (slice, h)` + `meta (k, gram_n)`.
    */
  def buildKmvSamples(df: DataFrame, sliceCol: String, textCol: String,
                      n: Int, k: Int, path: String): Unit = {
    require(k >= 2, s"k must be >= 2, got $k")
    val spark = df.sparkSession
    val hs = gramStream(df, Seq(sliceCol), textCol, n)
      .select(col(sliceCol).as("slice"),
        conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long").as("h"))
      .distinct()
    val byS = Window.partitionBy(col("slice")).orderBy(col("h"))
    hs.withColumn("_rn", row_number().over(byS))
      .filter(col("_rn") <= k).select(col("slice"), col("h"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$path/samples")
    spark.range(1).select(lit(k).as("k"), lit(n).as("gram_n"))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  private[graft] def kmvSampleMeta(spark: org.apache.spark.sql.SparkSession,
                                   path: String): (Int, Int) = {
    val r = spark.read.parquet(s"$path/meta").head()
    (r.getInt(0), r.getInt(1))
  }

  /** Fold a committed batch INTO the persisted samples: hash the BATCH
    * only, union with the standing k-row-per-slice samples, distinct,
    * re-rank bottom-k, staged rewrite of the sample-sized file —
    * constant standing-state work per commit plus one scan of the
    * batch. After the call the samples equal a rebuild on
    * corpus ∪ batch (spec-pinned).
    */
  def appendKmvSamples(spark: org.apache.spark.sql.SparkSession,
                       batch: DataFrame, sliceCol: String, textCol: String,
                       path: String): Unit = {
    val (k, n) = kmvSampleMeta(spark, path)
    val batchHs = gramStream(batch, Seq(sliceCol), textCol, n)
      .select(col(sliceCol).as("slice"),
        conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long").as("h"))
    val byS = Window.partitionBy(col("slice")).orderBy(col("h"))
    val merged = spark.read.parquet(s"$path/samples")
      .unionByName(batchHs).distinct()
      .withColumn("_rn", row_number().over(byS))
      .filter(col("_rn") <= k).select(col("slice"), col("h"))
    // crash-safe swap: two atomic dir renames, self-healing (r12)
    graft.engine.Layout.stagedReplace(spark, s"$path/samples") { stg =>
      merged.repartition(1).write.mode("overwrite").parquet(stg)
    }
  }

  /** Slice-pair overlap estimates from the PERSISTED samples alone —
    * no corpus scan: the [[kmvOverlap]] estimate frame fed the k-row
    * samples (its internal bottom-k window is a no-op there, so the
    * output is bit-identical to the self-deriving form on the same
    * corpus). The slices² guard applies to the pair grid as always.
    */
  def kmvOverlapFromSamples(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            maxSlices: Long = graft.ops.GuardBounds.MaxCorpusSlices): DataFrame = {
    val (k, _) = kmvSampleMeta(spark, path)
    graft.engine.Layout.healStagedReplace(spark, s"$path/samples")
    val hs = graft.engine.Caches.persisted("kmv.samples",
      spark.read.parquet(s"$path/samples"))
    requireSliceBound("kmvOverlapFromSamples",
      hs.select(col("slice")).distinct().count(), maxSlices)
    kmvEstimateFrame(hs, k)
  }

  /** The pair-estimate frame over a (slice, h) relation — the single
    * definition both [[kmvOverlap]] and [[kmvOverlapAudit]] emit.
    */
  private def kmvEstimateFrame(hs: DataFrame, k: Int): DataFrame = {
    val byS = Window.partitionBy(col("slice")).orderBy(col("h"))
    val bk = graft.engine.Caches.persisted("kmv.bottomK",
      hs.withColumn("_rn", row_number().over(byS))
        .filter(col("_rn") <= k).select(col("slice"), col("h")))
    val slices = hs.select(col("slice")).distinct()
    val pairs = slices.select(col("slice").as("slice_a"))
      .crossJoin(slices.select(col("slice").as("slice_b")))
      .filter(col("slice_a") < col("slice_b"))
    val ha = broadcast(pairs).join(bk, col("slice") === col("slice_a"))
      .select(col("slice_a"), col("slice_b"), col("h"),
        lit(true).as("_ia"), lit(false).as("_ib"))
    val hb = broadcast(pairs).join(bk, col("slice") === col("slice_b"))
      .select(col("slice_a"), col("slice_b"), col("h"),
        lit(false).as("_ia"), lit(true).as("_ib"))
    val byPair = Window.partitionBy(col("slice_a"), col("slice_b"))
      .orderBy(col("h"))
    val sample = ha.unionByName(hb)
      .groupBy(col("slice_a"), col("slice_b"), col("h"))
      .agg(max(col("_ia")).as("ia"), max(col("_ib")).as("ib"))
      .withColumn("_rn", row_number().over(byPair))
      .filter(col("_rn") <= k)
    sample.groupBy(col("slice_a"), col("slice_b"))
      .agg(count(lit(1)).as("k_eff"), max(col("h")).as("theta"),
        sum(when(col("ia") && col("ib"), 1L).otherwise(0L)).as("c_inter"))
      .select(col("slice_a"), col("slice_b"), col("k_eff"), col("theta"),
        col("c_inter"),
        when(col("k_eff") < k.toLong, col("k_eff").cast("double"))
          .when(col("theta") > 0,
            ((col("k_eff") - 1) * lit(4294967296L)).cast("double") /
              col("theta")).as("union_est"))
      .withColumn("inter_est",
        (col("c_inter") * col("union_est")) / col("k_eff"))
  }

  def kmvOverlapAudit(df: DataFrame, sliceCol: String, textCol: String,
                      n: Int, k: Int = 256,
                      maxSlices: Long = graft.ops.GuardBounds.MaxCorpusSlices): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val hs = kmvHashesGuarded(df, sliceCol, textCol, n, maxSlices,
      "kmvOverlapAudit")
    val est = kmvEstimateFrame(hs, k)
    val sizes = hs.groupBy(col("slice")).agg(count(lit(1)).as("n_h"))
    val xa = hs.select(col("slice").as("slice_a"), col("h"))
    val xb = hs.select(col("slice").as("slice_b"), col("h"))
    val exact = xa.join(xb, Seq("h"))
      .filter(col("slice_a") < col("slice_b"))
      .groupBy(col("slice_a"), col("slice_b"))
      .agg(count(lit(1)).as("n_inter"))
    est.join(exact, Seq("slice_a", "slice_b"), "left")
      .join(broadcast(sizes.select(col("slice").as("slice_a"),
        col("n_h").as("_na"))), Seq("slice_a"))
      .join(broadcast(sizes.select(col("slice").as("slice_b"),
        col("n_h").as("_nb"))), Seq("slice_b"))
      .select(col("slice_a"), col("slice_b"), col("k_eff"), col("theta"),
        col("c_inter"), col("union_est"), col("inter_est"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (col("_na") + col("_nb") -
          coalesce(col("n_inter"), lit(0L))).as("n_union"))
  }

  /** Per-group EXACT token-count quantiles — the length-distribution
    * audit of corpus curation (chunk-size budgeting, truncation-loss
    * estimates, outlier-source detection).
    *
    * Uses Spark's exact `percentile` (linear interpolation at
    * p·(n−1), the same definition as ANSI `quantile_cont` — oracle-
    * comparable), NOT `percentile_approx`: exact percentile aggregates
    * a value→count map per group, so its state is bounded by the number
    * of DISTINCT lengths (≤ max token count, a few thousand), not by
    * row count — exact stays cheap at 100 TB because the domain is
    * small, which is precisely when approx sketches are unnecessary.
    * For unbounded/continuous domains (latencies, scores) substitute
    * `percentile_approx`, which this engine treats as the fallback, not
    * the default. One hash aggregation; map-side partials merge the
    * count maps.
    */
  def lengthQuantiles(df: DataFrame, groupCol: String, textCol: String,
                      ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      "quantiles must lie in [0, 1]")
    val base = df.select(col(groupCol),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val aggs = count(lit(1)).as("n_docs") +: ps.map(p =>
      round(percentile(col("n_tokens"), lit(p)), 6).as(s"p${math.round(p * 100)}"))
    base.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
  }

  /** EXACT heavy hitters (all tokens with frequency >= `minCount`) in
    * two passes, with a Count-Min sketch candidate pre-filter — the
    * vocabulary-statistics primitive of corpus curation (stopword
    * discovery, boilerplate n-grams, tokenizer-merge candidates).
    *
    * Pass 1 aggregates every token into ONE Count-Min sketch (Cormode &
    * Muthukrishnan '05; Spark's built-in `count_min_sketch` aggregate —
    * map-side partials, a single ~`(2/eps)·ln(1/(1-confidence))`-cell
    * scalar to the driver, ~80 KB at the defaults: the bloom-scalar
    * pattern of [[Curation.contaminationBloom]]). Pass 2 re-scans,
    * keeping only tokens the sketch scores >= `minCount` — the probe is
    * the codegen'd [[graft.functions.CmsEstimate]], fused map-side into
    * the scan — and exact-counts the survivors.
    *
    * Correctness does NOT depend on sketch accuracy: a Count-Min
    * estimate can only OVER-count (every cell a token hashes to holds
    * its true count plus non-negative collision mass), so the candidate
    * set is a guaranteed superset of the true heavy hitters and the
    * exact `HAVING freq >= minCount` on survivors returns EXACTLY the
    * true set. `eps` only tunes how much collision fluff the exact pass
    * has to disprove.
    *
    * Scale posture: the naive `groupBy(token).count` shuffles the FULL
    * vocabulary — at 100 TB that is billions of distinct (typo / URL /
    * hash-string) singleton keys moved across the wire to be discarded
    * by the HAVING. Here the shuffle carries only sketch-candidates
    * (heavy hitters + bounded collision noise), a vocabulary-sized →
    * output-sized reduction; both passes are full scans but parquet
    * column pruning makes them cheap, and nothing driver-side grows
    * with data volume.
    */
  /** Inverted index over the corpus: one row per distinct token with
    * its document frequency and a doc-id-ordered posting list — the
    * structure a corpus search / contamination-lookup service reads.
    *
    * Scale posture: the posting list of a stop-word is the whole corpus
    * (billions of ids in ONE aggregation buffer at 100 TB — a hot-key
    * OOM, and useless for search anyway), so postings are capped at
    * `maxPostings` ids BEFORE collection: a row_number over the token
    * partition keeps the first `maxPostings` doc ids and the filter
    * runs pre-aggregation, bounding every buffer. `df` still counts ALL
    * docs (computed as a count over the same window — both window
    * passes and the final collect share ONE token-hash Exchange), and
    * `truncated` flags capped tokens so a reader can't mistake a capped
    * list for a complete one. `minDf` prunes the hapax tail (typos,
    * URLs — the vast majority of a web-scale vocabulary) AFTER the
    * window pass, so it bounds output size, not the shuffle; see
    * [[heavyHitters]] for the sketch-prefiltered variant when even the
    * vocabulary-sized shuffle must shrink.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    minDf: Long = 1, maxPostings: Int = 1000): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    require(maxPostings >= 1, s"maxPostings must be >= 1, got $maxPostings")
    import org.apache.spark.sql.expressions.Window
    val byTok = Window.partitionBy(col("token"))
    val dt = df.select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(tokens(lower(col(textCol))))).as("token"))
    dt.withColumn("df", count(lit(1)).over(byTok))
      .withColumn("_rn", row_number().over(byTok.orderBy(col("doc_id").asc)))
      .filter(col("_rn") <= maxPostings)
      .groupBy(col("token"))
      .agg(first(col("df")).as("df"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
      .filter(col("df") >= minDf)
      .withColumn("truncated", col("df") > maxPostings)
      .select(col("token"), col("df"), col("truncated"), col("postings"))
  }

  /** Vocabulary coverage: fix the corpus vocabulary as the top
    * `vocabSize` tokens by corpus frequency (ties broken by token — a
    * fully deterministic cut), then score every document's
    * out-of-vocabulary rate against it — the coverage metric a
    * vocab/tokenizer choice is judged by, and a per-doc noise signal
    * (OOV-heavy docs are code, other languages, or token salad).
    *
    * Plan: ONE explode feeds both sides — the corpus frequency
    * aggregation (one token-hash Exchange, map-side partials) whose
    * top-V cut is a TakeOrderedAndProject (V rows to one task, never a
    * global sort), and the per-doc membership join, which BROADCASTS
    * the V-row vocabulary (vocab ≪ corpus by construction) so the
    * doc-side aggregation needs no second corpus shuffle. Blank
    * documents contribute no tokens and emit no row (the [[termFreq]]
    * phantom-token rule).
    */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("_f"))
      .orderBy(col("_f").desc, col("token").asc)
      .limit(vocabSize)
      .select(col("token"), lit(1).as("_inv"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }

  /** Distribution drift between two corpus slices: per-bucket counts
    * and add-one-smoothed shares of A and B over a shared bucketing,
    * plus each bucket's contribution to KL(A‖B) and the total — the
    * monitor that answers "did the new crawl/filter shift the length
    * (or score) distribution" before a bad version trains (cf. data
    * drift detection via f-divergences in the dataset-shift
    * literature). Laplace add-one smoothing makes every share positive
    * so the KL is defined even for one-sided buckets.
    *
    * Determinism/oracle discipline: shares are long-ratio double
    * divisions (IEEE-identical cross-engine) rounded to 9 dp and fixed
    * as DECIMAL(10,9); the ln of the RAW share ratio is the one
    * transcendental, rounded to 12 dp and fixed as DECIMAL(14,12) (the
    * zipfSlope rule); each contribution is then an exact decimal
    * product and the KL total an exact order-independent decimal sum,
    * presented once as a rounded double.
    *
    * Plan: each side reduces to its bucket histogram (one hash agg,
    * map-side partials — the only passes that touch corpus rows); the
    * full-outer join and the global total/KL windows run on the
    * BUCKET frame (tens of rows), where a single-partition window is
    * free by construction.
    */
  def distributionDrift(a: DataFrame, b: DataFrame,
                        bucket: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val ca = a.select(bucket.cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_a"))
    val cb = b.select(bucket.cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_b"))
    val g = Window.partitionBy() // bucket-frame-sized: tens of rows
    val joined = ca.join(cb, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("_ta", sum(col("n_a")).over(g))
      .withColumn("_tb", sum(col("n_b")).over(g))
      .withColumn("_k", count(lit(1)).over(g))
    val paD = (col("n_a") + 1).cast("double") / (col("_ta") + col("_k"))
    val pbD = (col("n_b") + 1).cast("double") / (col("_tb") + col("_k"))
    val scored = joined
      .withColumn("p_a", round(paD, 9).cast(DecimalType(10, 9)))
      .withColumn("p_b", round(pbD, 9).cast(DecimalType(10, 9)))
      .withColumn("_lnr", round(log(paD / pbD), 12).cast(DecimalType(14, 12)))
      .withColumn("kl_contrib",
        (col("p_a") * col("_lnr")).cast(DecimalType(26, 21)))
    scored
      .withColumn("kl_total",
        round(sum(col("kl_contrib")).over(g).cast("double"), 9))
      .select(col("bucket"), col("n_a"), col("n_b"),
        col("p_a").cast("double").as("p_a"),
        col("p_b").cast("double").as("p_b"),
        round(col("kl_contrib").cast("double"), 12).as("kl_contrib"),
        col("kl_total"))
  }

  /** Vocabulary churn between two corpus slices: each side's top-V
    * vocabulary ([[vocabCoverage]]'s deterministic freq-then-token
    * cut), overlap counts, and the Jaccard of the two vocabularies —
    * the feature-level face of corpus drift ([[distributionDrift]]
    * sees shifted DISTRIBUTIONS; this sees swapped WORDS, the signal
    * that a crawl started speaking a different language/domain even
    * when lengths look stable). Two frequency aggregations (the only
    * corpus passes), two V-row TakeOrderedAndProject cuts, one V-row
    * join — output is a single row.
    */
  def vocabChurn(a: DataFrame, b: DataFrame, textCol: String,
                 vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    def top(df: DataFrame) = df
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("_f"))
      .orderBy(col("_f").desc, col("token").asc).limit(vocabSize)
      .select(col("token"))
    val joined = top(a).withColumn("_ina", lit(1))
      .join(top(b).withColumn("_inb", lit(1)), Seq("token"), "full_outer")
    val shared = col("n_shared").cast("double")
    joined
      .agg(count(col("_ina")).as("n_vocab_a"),
        count(col("_inb")).as("n_vocab_b"),
        count(when(col("_ina").isNotNull && col("_inb").isNotNull, 1))
          .as("n_shared"))
      .select(col("n_vocab_a"), col("n_vocab_b"), col("n_shared"),
        round(shared / (col("n_vocab_a") + col("n_vocab_b") - col("n_shared")),
          6).as("jaccard"))
  }

  /** Zipf exponent per group: the slope of ln(freq) over ln(rank) across
    * the group's `topK` most frequent tokens — natural language sits
    * near −1 (Zipf's law), so a source whose slope is far off is
    * machine-generated, templated, or token-salad: a corpus-level
    * quality signal the per-doc scores (q35) can't see.
    *
    * Numeric discipline: ln() is the one transcendental — each value is
    * immediately rounded to 12 dp and fixed as DECIMAL(14,12) (2
    * integer digits hold ln of any count up to e^99), so the regression
    * power sums are exact and order-independent; (14,12)² = (29,24)
    * fits precision 38 exactly. The slope is the standard least-squares
    * quotient, computed in double only at presentation. Rank is
    * row_number with the token as tiebreak — fully deterministic.
    *
    * Plan: one explode→hash-agg for term frequencies (map-side
    * partials), one window limited to topK rows per group (the
    * WindowGroupLimit push), then a tiny keyed agg. Groups with a
    * degenerate rank range (< 2 distinct ranks) yield NULL.
    */
  /** Per-group token frequency table — the shared base of [[zipfSlope]]
    * and [[tokenEntropy]], so the tokenization + phantom-token rule has
    * one source of truth. tokens("") is [""] (the split convention the
    * COUNT ops keep for parity with SQL split), but a frequency TABLE
    * must not carry a non-token member: blank documents contribute
    * nothing, and an all-blank group has no row at all.
    */
  private def termFreq(df: DataFrame, groupCol: String,
                       textCol: String): DataFrame =
    df.select(col(groupCol), explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col(groupCol), col("token")).agg(count(lit(1)).as("freq"))

  def zipfSlope(df: DataFrame, groupCol: String, textCol: String,
                topK: Int = 100): DataFrame = {
    require(topK >= 2, s"topK must be >= 2, got $topK")
    import org.apache.spark.sql.types.DecimalType
    val tf = termFreq(df, groupCol, textCol)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("freq").desc, col("token").asc)
    val ranked = tf.withColumn("_rank", row_number().over(w))
      .filter(col("_rank") <= topK)
      .withColumn("_x", round(log(col("_rank")), 12).cast(DecimalType(14, 12)))
      .withColumn("_y", round(log(col("freq")), 12).cast(DecimalType(14, 12)))
    val sums = ranked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_ranks"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum((col("_x") * col("_y")).cast(DecimalType(38, 24))).as("_sxy"),
        sum((col("_x") * col("_x")).cast(DecimalType(38, 24))).as("_sxx"))
    def d(c: String) = col(c).cast("double")
    sums.select(col(groupCol), col("n_ranks"),
      when(col("n_ranks") >= 2,
        round((col("n_ranks") * d("_sxy") - d("_sx") * d("_sy")) /
          (col("n_ranks") * d("_sxx") - d("_sx") * d("_sx")), 6))
        .as("zipf_slope"))
  }

  /** Unigram Shannon entropy per group: H = ln(N) − Σ fᵢ·ln(fᵢ) / N
    * over the group's full token frequency table — the information
    * density of a source (templated/boilerplate corpora sit far below
    * natural text), plus the normalized efficiency H / ln(V) so sources
    * of different vocabulary sizes compare. The rearranged form is the
    * numerically disciplined one: ln appears once per DISTINCT token,
    * each value immediately rounded to 12 dp and fixed as
    * DECIMAL(14,12); fᵢ·ln(fᵢ) with fᵢ as DECIMAL(18,0) is an exact
    * (33,12) product, so the entropy sum is order-independent and the
    * only free doubles are ln(N) and ln(V) at presentation. Same
    * explode→hash-agg→keyed-agg shape as [[zipfSlope]] minus the
    * window: term frequencies reduce map-side, then one tiny agg per
    * group.
    */
  def tokenEntropy(df: DataFrame, groupCol: String,
                   textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sums = termFreq(df, groupCol, textCol).groupBy(col(groupCol))
      .agg(count(lit(1)).as("vocab_size"),
        sum(col("freq")).as("total_tokens"),
        sum((col("freq").cast(DecimalType(18, 0)) *
          round(log(col("freq")), 12).cast(DecimalType(14, 12)))
          .cast(DecimalType(33, 12))).as("_sfl"))
    val h = log(col("total_tokens")) -
      col("_sfl").cast("double") / col("total_tokens")
    sums.select(col(groupCol), col("vocab_size"), col("total_tokens"),
      round(h, 6).as("entropy"),
      when(col("vocab_size") > 1, round(h / log(col("vocab_size")), 6))
        .as("efficiency"))
  }

  def heavyHitters(df: DataFrame, tokensCol: Column, minCount: Long,
                   eps: Double = 0.001, confidence: Double = 0.99,
                   seed: Int = 42): DataFrame = {
    require(minCount > 0, s"minCount must be positive, got $minCount")
    import org.apache.spark.sql.GraftColumn
    val toks = df.select(explode(tokensCol).as("token"))
    val sketchBytes = toks
      .agg(count_min_sketch(col("token"), lit(eps), lit(confidence),
        lit(seed)).as("cms"))
      .head().getAs[Array[Byte]]("cms")
    // empty corpus: the aggregate yields a null sketch — nothing is heavy
    if (sketchBytes == null)
      toks.groupBy("token").agg(count(lit(1)).as("freq")).limit(0)
    else
      toks
        .filter(GraftColumn(graft.functions.CmsEstimate(
          GraftColumn.expr(col("token")), sketchBytes)) >= minCount)
        .groupBy("token")
        .agg(count(lit(1)).as("freq"))
        .filter(col("freq") >= minCount)
  }

  /** Document-level token PMI: for every pair of vocabulary tokens,
    * the pointwise mutual information of their DOC co-occurrence —
    * pmi(a,b) = ln(N·c(a,b) / (c(a)·c(b))) over distinct-doc counts
    * (Church & Hanks 1990) — the collocation/association signal behind
    * phrase mining and topic-drift diagnostics. Reported for the topK
    * highest-PMI pairs with c(a,b) ≥ `minPairDocs` (rare-pair PMI is
    * noise by construction).
    *
    * Scale posture: doc-level pair counting is quadratic in DISTINCT
    * VOCAB TOKENS PER DOC, so the operator first cuts the vocabulary
    * to the top `vocabSize` corpus tokens (the [[vocabCoverage]] cut:
    * frequency desc, token asc — broadcast) and refuses vocabSize
    * above 1000: the per-doc pair fanout is then ≤ V²/2 ≈ 500k rows
    * per doc worst-case, collapsed by map-side partials before the
    * (a, b) shuffle. The pair join is doc-keyed equi — never a
    * cartesian. Final ranking is a TakeOrderedAndProject on the
    * aggregate-sized pair frame.
    */
  def tokenPmi(df: DataFrame, idCol: String, textCol: String,
               vocabSize: Int, minPairDocs: Long, topK: Int): DataFrame = {
    require(vocabSize >= 2 && vocabSize <= 1000,
      s"vocabSize must be in [2, 1000] (per-doc pair fanout is V²), " +
        s"got $vocabSize")
    require(minPairDocs >= 1 && topK >= 1,
      s"minPairDocs/topK must be positive, got $minPairDocs/$topK")
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .filter(col("token") =!= "")
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("_f"))
      .orderBy(col("_f").desc, col("token").asc)
      .limit(vocabSize)
      .select(col("token"))
    val dt = graft.engine.Caches.persisted("tokenPmi.docTokens",
      toks.join(broadcast(vocab), Seq("token"))
        .select(col("doc_id"), col("token")).distinct())
    val nDocs = dt.agg(count_distinct(col("doc_id")).as("n_docs"))
    val ct = dt.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val a = dt.select(col("doc_id"), col("token").as("token_a"))
    val b = dt.select(col("doc_id"), col("token").as("token_b"))
    def d(c: Column) = c.cast("double")
    a.join(b, Seq("doc_id"))
      .filter(col("token_a") < col("token_b"))
      .groupBy(col("token_a"), col("token_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairDocs)
      .join(broadcast(ct.select(col("token").as("token_a"),
        col("c").as("c_a"))), Seq("token_a"))
      .join(broadcast(ct.select(col("token").as("token_b"),
        col("c").as("c_b"))), Seq("token_b"))
      .crossJoin(broadcast(nDocs))
      .select(col("token_a"), col("token_b"), col("c_ab"), col("c_a"),
        col("c_b"),
        round(log((d(col("n_docs")) * d(col("c_ab"))) /
          (d(col("c_a")) * d(col("c_b")))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("token_a").asc, col("token_b").asc)
      .limit(topK)
  }

  /** Okapi BM25 relevance of every document for a fixed bag of query
    * terms (Robertson et al., TREC-3; the `+1` idf form Lucene ships so
    * common terms cannot score negative):
    *   idf(t)  = ln((N − df_t + 0.5)/(df_t + 0.5) + 1)
    *   s(d)    = Σ_t idf(t) · tf/(tf + k1·(1 − b + b·dl/avgdl))
    * The corpus-side retrieval scorer a curation pipeline uses to rank
    * documents against a topic probe (and the lexical baseline next to
    * [[graft.vector.Similarity.cosineTopK]]'s dense retrieval).
    *
    * Only docs matching ≥ 1 term emit a row (search-result sparsity).
    * Determinism: per-(doc, term) scores are doubles computed in one
    * pinned operation order, fixed to the 12-dp grid before the exact
    * decimal per-doc sum; `bm25` presents as a 6-dp double.
    *
    * Plan/scale: one token explode feeds the doc-length aggregation
    * (one doc-keyed Exchange) and, term-filtered AT THE SCAN, the tiny
    * (doc, term) tf aggregation; corpus constants (N, Σdl) and the
    * per-term df both broadcast onto the match frame, which joins
    * docLen by key. Nothing quadratic, no global sort.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.map(_.toLowerCase).distinct.size == queryTerms.size,
      s"queryTerms must be distinct (case-insensitive), got $queryTerms")
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .filter(col("token") =!= "")
    val docLen = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val totals = docLen.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val tf = toks.filter(col("token").isin(queryTerms.map(_.toLowerCase): _*))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("token")).agg(count(lit(1)).as("dft"))
    bm25Score(tf, dft, docLen, totals, k1, b)
  }

  /** The shared BM25 scorer: one pinned operation order consumed by
    * BOTH the inline [[bm25]] and the persisted-index [[bm25Probe]],
    * so the build/probe split provably cannot drift from the inline
    * scorer (the IVF-family discipline). Inputs: `tf(doc_id, token,
    * tf)` already restricted to the query terms, `dft(token, dft)`,
    * `docLen(doc_id, dl)`, `totals(n_docs, sum_dl)` one row.
    */
  private def bm25Score(tf: DataFrame, dft: DataFrame, docLen: DataFrame,
                        totals: DataFrame, k1: Double, b: Double): DataFrame =
    bm25ScoreGrouped(tf, dft, docLen, totals, k1, b, Seq("doc_id"))

  /** [[bm25Score]] with a caller-chosen grouping — the multi-query
    * form groups by (query_id, doc_id) on a tf slice that carries the
    * query id; the arithmetic (12-dp fixed per-term score, exact
    * decimal per-group sum, 6-dp presentation) is byte-identical to
    * the single-query scorer, which is how the q252 oracle extends
    * q168's verbatim.
    */
  private def bm25ScoreGrouped(tf: DataFrame, dft: DataFrame,
                               docLen: DataFrame, totals: DataFrame,
                               k1: Double, b: Double,
                               groupCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def d(c: String) = col(c).cast("double")
    val avgdl = d("sum_dl") / d("n_docs")
    val idf = log((d("n_docs") - d("dft") + lit(0.5)) /
      (d("dft") + lit(0.5)) + lit(1.0))
    val comp = d("tf") /
      (d("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * d("dl") / avgdl))
    tf.join(broadcast(dft), Seq("token"))
      .join(docLen, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("_ts", round(idf * comp, 12).cast(DecimalType(28, 12)))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_matched"),
        round(sum(col("_ts")).cast("double"), 6).as("bm25"))
  }

  /** Persisted BM25 (lexical) index — the build/probe split the IVF
    * family applies to vectors, applied to text: corpus statistics are
    * computed ONCE at build time and every probe reads only the query
    * terms' slice, instead of re-tokenizing the corpus per query (the
    * inline [[bm25]]'s cost model).
    *
    * Layout under `indexPath`:
    *   - `tf/` — (doc_id, token, tf), hive-partitioned by
    *     `bucket = pmod(hash(token), nBuckets)`: a probe
    *     partition-prunes to the query terms' buckets and pushes the
    *     term IN-filter into the scan (plan-pinned, PlanSpec);
    *   - `df/` — per-token document-frequency PARTIALS, same bucket
    *     partitioning: probes SUM them per token, so an append never
    *     rewrites existing rows (the shingle_freq SUM-mergeable
    *     pattern);
    *   - `doclen/` — (doc_id, dl), hive-partitioned by
    *     `dbucket = pmod(hash(doc_id), nBuckets)`: per-DOC rows write
    *     multi-file through the doc-hash shuffle (never a
    *     single-task funnel — at 10⁹ docs a `coalesce(1)` here would
    *     serialize the whole doc-length relation through one task,
    *     the r13-verdict scale-killer) and forget-verbs prune to the
    *     deleted docs' buckets;
    *   - `totals/` — (n_docs, sum_dl, n_buckets) partials, summed at
    *     probe (one row per build/append — segments compact past the
    *     tombstone-dir file bound).
    *
    * [[appendBm25Index]] grows all four at batch cost (new docs only —
    * guarded by an anti-join `require`; tf/doclen rows are per-doc so
    * appends never collide; df/totals merge by SUM at read). Law
    * (LawsProps): build(base) + append(rest) probes equal to
    * build(all) on any corpus split.
    *
    * Deletes: [[graft.engine.IndexLifecycle.Bm25]] — tombstoned doc
    * ids vanish from probes immediately, the purge folds them into the
    * data files, and [[fsckBm25Index]] audits.
    *
    * Concurrency: WRITERS SERIALIZE on
    * [[graft.engine.Layout.withWriterLease]] (build/append/purge) —
    * df and totals are DERIVED partials, and a purge that recomputes
    * them from tf while an append is mid-flight would double-count
    * the batch (recompute-vs-delta is an algebraic race no file-level
    * carry-over fixes; the round-14 multi-writer soak is the
    * regression). Probes and fsck never take the lease — readers are
    * correct lock-free via tombstone masking + live-row re-derivation,
    * and tombstone APPENDS (the lifecycle's delete) stay unleased too
    * (append-only + snapshot-scoped clears commute).
    */
  def buildBm25Index(df: DataFrame, idCol: String, textCol: String,
                     indexPath: String, nBuckets: Int = 64): Unit =
    graft.engine.Layout.withWriterLease(df.sparkSession, indexPath) {
      buildBm25IndexBody(df, idCol, textCol, indexPath, nBuckets)
    }

  private def buildBm25IndexBody(df: DataFrame, idCol: String,
                                 textCol: String, indexPath: String,
                                 nBuckets: Int): Unit = {
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(hash(col("token")), lit(nBuckets)))
    val spark = df.sparkSession
    Bm25Tf.write(tf, indexPath, SaveMode.Overwrite)
    // df partials derive from the WRITTEN tf (one tokenize pass total)
    val tfBack = Bm25Tf.read(spark, indexPath)
    Bm25Df.write(tfBack.groupBy(col("token"), col("bucket"))
      .agg(count(lit(1)).as("dft")), indexPath, SaveMode.Overwrite)
    val docLen = tfBack.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .withColumn("dbucket", pmod(hash(col("doc_id")), lit(nBuckets)))
    // co-locate by dbucket: one file per bucket dir, not one per
    // shuffle partition per dir (the Layout.colocated discipline)
    Bm25Doclen.write(docLen.repartition(col("dbucket")), indexPath,
      SaveMode.Overwrite)
    Bm25Totals.write(Bm25Doclen.read(spark, indexPath)
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("n_buckets", lit(nBuckets))
      .coalesce(1), indexPath, SaveMode.Overwrite)
  }

  /** Append a batch of NEW documents to a persisted BM25 index at
    * batch cost: per-doc tf/doclen rows append (no collision — doc ids
    * must be new, enforced by an anti-join `require` against the
    * stored doclen relation, one slim semi-join per append: a silent
    * duplicate would double dl and emit duplicate per-doc score rows
    * forever), df and totals land as SUM-mergeable partials; totals
    * segments compact past the flat-file bound. Reuses the build's
    * single-tokenize-pass shape on the batch only. Cache hygiene is
    * SCOPED (mark/releaseSince): this verb releases exactly the
    * entries it registered, never a concurrent operator's tracked
    * frames (caller-releases is the repo-wide Caches convention).
    */
  def appendBm25Index(batch: DataFrame, idCol: String, textCol: String,
                      indexPath: String): Unit =
    graft.engine.Layout.withWriterLease(batch.sparkSession, indexPath) {
      appendBm25IndexBody(batch, idCol, textCol, indexPath)
    }

  private def appendBm25IndexBody(batch: DataFrame, idCol: String,
                                  textCol: String, indexPath: String): Unit = {
    val spark = batch.sparkSession
    val nBuckets = bm25Buckets(spark, indexPath)
    requireNewDocs(batch, idCol, indexPath, "appendBm25Index")
    val m = graft.engine.Caches.mark()
    try writeBm25Deltas(batch, idCol, textCol, nBuckets, indexPath,
      SaveMode.Append)
    finally graft.engine.Caches.releaseSince(m)
    boundTotalsSegments(spark, indexPath)
  }

  /** The index's bucket count, recorded in every totals segment. */
  private[graft] def bm25Buckets(spark: SparkSession,
                                 indexPath: String): Int =
    Bm25Totals.read(spark, indexPath)
      .select(max(col("n_buckets"))).head().getInt(0)

  /** Refuse a batch carrying doc ids the index already holds (one slim
    * semi-join against doclen): a silent re-append would double dl and
    * emit duplicate per-doc score rows forever.
    */
  private[graft] def requireNewDocs(batch: DataFrame, idCol: String,
                                    indexPath: String, verb: String): Unit = {
    val nDup = batch.select(col(idCol).cast("long").as("doc_id")).distinct()
      .join(Bm25Doclen.read(batch.sparkSession, indexPath).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .count()
    require(nDup == 0L,
      s"$verb: $nDup batch doc ids already exist in the index at " +
        s"$indexPath — appends must carry NEW docs only (dedup or delete " +
        "upstream; a silent re-append would double dl and duplicate " +
        "score rows)")
  }

  /** Bound the totals segment count under many small appends (the
    * tombstone-dir cadence; totals is one row per append).
    */
  private[graft] def boundTotalsSegments(spark: SparkSession,
                                         indexPath: String): Unit =
    if (graft.engine.Layout.flatFileCount(spark, Bm25Totals.path(indexPath)) > 48)
      graft.engine.Layout.compactFlat(spark, Bm25Totals.path(indexPath),
        targetFiles = 1)

  /** The four SUM-mergeable delta frames one NEW-doc batch contributes
    * to a persisted BM25 index — (tf, df, doclen, totals), each shaped
    * exactly like its index table (partition columns included). One
    * tokenize pass over the batch: df, doclen and totals all derive
    * from the returned tf frame, so a caller that persists tf before
    * the first write computes them from the SAME tokenization.
    */
  private[graft] def bm25BatchDeltas(batch: DataFrame, idCol: String,
                                     textCol: String, nBuckets: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val toks = batch.select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(hash(col("token")), lit(nBuckets)))
    val df = tf.groupBy(col("token"), col("bucket"))
      .agg(count(lit(1)).as("dft"))
    val docLen = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      .withColumn("dbucket", pmod(hash(col("doc_id")), lit(nBuckets)))
    val totals = docLen
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("n_buckets", lit(nBuckets))
    (tf, df, docLen, totals)
  }

  /** Land one NEW-doc batch's [[bm25BatchDeltas]] under `root` through
    * the declared tables: the live index (`Append`, [[appendBm25Index]])
    * or an idempotent promote's staging tree (`Overwrite`,
    * [[graft.streaming.EventStream.appendBm25BatchIdempotent]]). tf is
    * persisted (the caller's Caches scope releases it) before the first
    * write.
    */
  private[graft] def writeBm25Deltas(batch: DataFrame, idCol: String,
                                     textCol: String, nBuckets: Int,
                                     root: String, mode: SaveMode): Unit = {
    val (tf0, df, docLen, totals) =
      bm25BatchDeltas(batch, idCol, textCol, nBuckets)
    Bm25Tf.write(graft.engine.Caches.persisted("bm25BatchDeltas.tf", tf0),
      root, mode)
    Bm25Df.write(df, root, mode)
    Bm25Doclen.write(docLen.repartition(col("dbucket")), root, mode)
    Bm25Totals.write(totals.coalesce(1), root, mode)
  }

  /** Probe the persisted BM25 index: reads the query terms' tf slice
    * (bucket partition-pruned + term filter pushed to the scan), SUMs
    * the df/totals partials, and scores through [[bm25Score]] — the
    * same pinned arithmetic as the inline [[bm25]], so the q168 oracle
    * applies to the probe verbatim (q246).
    *
    * Tombstones ([[graft.engine.IndexLifecycle.delete]]): when forget
    * requests are pending, the probe anti-joins them out of tf and doclen and
    * RE-DERIVES dft and totals from the live rows instead of the
    * persisted partials (dft = live tf rows per query term — the same
    * bucket-pruned slice already read; totals = one aggregate over
    * the live doclen relation). This makes the probe correct at EVERY
    * intermediate purge state (tf swapped but df not, doclen swapped
    * but totals not): under pending tombstones it trusts only
    * tf/doclen + the tombstone set, and the purge clears tombstones
    * LAST. Indexes with no delete history take the partials fast path
    * — plan unchanged, PlanSpec-pinned.
    */
  def bm25Probe(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                queryTerms: Seq[String], k1: Double = 1.2,
                b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.map(_.toLowerCase).distinct.size == queryTerms.size,
      s"queryTerms must be distinct (case-insensitive), got $queryTerms")
    val (tf, dft, docLen, totals) =
      bm25IndexSlice(spark, indexPath, queryTerms.map(_.toLowerCase))
    bm25Score(tf, dft, docLen, totals, k1, b)
  }

  /** The persisted index's scoring inputs for the (lower-cased) `terms`
    * — `(tf, dft, docLen, totals)` as [[bm25ScoreGrouped]] takes them —
    * shared by [[bm25Probe]] and [[bm25ProbeJoin]]: the tf and df scans
    * prune to the terms' buckets and push the term IN-filter; pending
    * tombstones anti-join out of tf and doclen and switch dft/totals to
    * the live re-derivation.
    */
  private def bm25IndexSlice(spark: SparkSession, indexPath: String,
                             terms: Seq[String])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // reader-side heal of any interrupted partition-level purge swap
    // (two FS existence checks each when none is in flight)
    Seq(Bm25Tf, Bm25Df, Bm25Doclen).foreach(_.heal(spark, indexPath))
    val totalsAll = Bm25Totals.read(spark, indexPath)
    val nBuckets = totalsAll.select(max(col("n_buckets"))).head().getInt(0)
    // bucket per term via the SAME executor-side hash used at build
    // time — never re-implemented driver-side
    import spark.implicits._
    val buckets = terms.toDF("token")
      .select(pmod(hash(col("token")), lit(nBuckets)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val tsDoc = graft.engine.Layout.tombstones(spark, indexPath)
      .map(ts => broadcast(ts.select(col("id").as("doc_id"))))
    val tf0 = Bm25Tf.read(spark, indexPath)
      .filter(col("bucket").isin(buckets: _*) && col("token").isin(terms: _*))
      .select(col("doc_id"), col("token"), col("tf"))
    val tf = tsDoc.fold(tf0)(t => tf0.join(t, Seq("doc_id"), "left_anti"))
    val docLen0 = Bm25Doclen.read(spark, indexPath)
      .select(col("doc_id"), col("dl"))
    val docLen = tsDoc.fold(docLen0)(t =>
      docLen0.join(t, Seq("doc_id"), "left_anti"))
    val (dft, totals) = tsDoc match {
      case None =>
        (Bm25Df.read(spark, indexPath)
           .filter(col("bucket").isin(buckets: _*) &&
             col("token").isin(terms: _*))
           .groupBy(col("token")).agg(sum(col("dft")).as("dft")),
         totalsAll.agg(sum(col("n_docs")).as("n_docs"),
           sum(col("sum_dl")).as("sum_dl")))
      case Some(_) =>
        (tf.groupBy(col("token")).agg(count(lit(1)).as("dft")),
         docLen.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")))
    }
    (tf, dft, docLen, totals)
  }

  /** The batch (JOIN) form of [[bm25Probe]] — lexical retrieval as the
    * production many-query shape ([[graft.vector.Similarity.ivfProbeJoin]]'s
    * contract on the text tier): for EVERY query in `queries`
    * (`(query_id, terms array<string>)`), BM25 scores of all matching
    * docs from the persisted index, in ONE distributed plan. One row
    * per (query, matching doc): `(query_id, doc_id, n_matched, bm25)`,
    * per-query rows identical to [[bm25Probe]] run query-by-query
    * (shared [[bm25ScoreGrouped]] arithmetic — the law RetrievalSpec
    * pins).
    *
    * Shape: ONE bucket-pruned tf scan over the UNION of the batch's
    * terms (the literal IN collected driver-side — bounded by
    * `GuardBounds.MaxProbeTerms`, refused loudly above: the serving
    * contract is short queries, not corpus-sized term sets), one
    * broadcast join against the exploded (query_id, term) pairs so
    * each doc row fans out only to the queries that asked for its
    * term, df/totals from the SUM-mergeable partials, and one grouped
    * aggregation by (query_id, doc_id). Corpus cost is the union
    * slice, paid once — NOT once per query, which is the entire point
    * over looping [[bm25Probe]]. Tombstone-aware exactly as the
    * single-query probe (pending forget requests anti-join out and
    * df/totals re-derive from live rows).
    *
    * Duplicate terms within one query would double-count that term's
    * score contribution — refused loudly (the [[bm25Probe]] distinct
    * contract), detected in one batch-shaped aggregate.
    */
  def bm25ProbeJoin(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String, queries: DataFrame,
                    qIdCol: String = "query_id", termsCol: String = "terms",
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qt0 = queries.select(col(qIdCol).cast("long").as("query_id"),
        explode(col(termsCol)).as("token"))
      .select(col("query_id"), lower(col("token")).as("token"))
      .filter(col("token") =!= "")
    val dup = qt0.groupBy(col("query_id"), col("token"))
      .agg(count(lit(1)).as("_c")).filter(col("_c") > 1)
      .select(col("query_id"), col("token")).limit(1).collect()
    require(dup.isEmpty,
      s"bm25ProbeJoin: query ${dup.headOption.map(_.getLong(0))} repeats " +
        s"term '${dup.headOption.map(_.getString(1)).getOrElse("")}' — " +
        "terms must be distinct per query (a repeat would double-count " +
        "its score term)")
    // the union term set becomes the pruning IN — driver-bounded
    val terms = qt0.select(col("token")).distinct()
      .limit(graft.ops.GuardBounds.MaxProbeTerms.toInt + 1)
      .collect().map(_.getString(0)).toSeq
    require(terms.nonEmpty, "bm25ProbeJoin: no non-empty query terms")
    require(terms.size <= graft.ops.GuardBounds.MaxProbeTerms,
      s"bm25ProbeJoin: batch carries more than " +
        s"${graft.ops.GuardBounds.MaxProbeTerms} distinct terms — the " +
        "pruning IN-list is driver-collected by design; probe in " +
        "smaller batches")
    val (tf, dft, docLen, totals) = bm25IndexSlice(spark, indexPath, terms)
    val tfq = tf.join(broadcast(qt0), Seq("token"))
    bm25ScoreGrouped(tfq, dft, docLen, totals, k1, b,
      Seq("query_id", "doc_id"))
  }

  /** The BM25 tier's purge rewrite ([[graft.engine.IndexLifecycle.Bm25]],
    * run under the tier's writer lease). Two chains: tf → df
    * (recomputed from the purged tf) and doclen → totals (recomputed
    * from the purged doclen). A crash after any swap leaves the
    * tombstones pending, and a probe under pending tombstones derives
    * df/totals from live tf/doclen rows ([[bm25Probe]]) — so every
    * intermediate state reads correctly and the purge is idempotent.
    *
    * Partition economics differ from the ANN tier by design: a
    * deleted DOC's tokens hash across ~all token buckets, so the tf
    * rewrite typically touches most partitions (that is what
    * "amortized rewrite" means here — the per-probe anti-join is the
    * thing being bought back); doclen prunes to the deleted docs'
    * dbuckets (doc-hash partitioning, delete-proportional).
    */
  private[graft] def rewriteBm25Tables(spark: org.apache.spark.sql.SparkSession,
                                       indexPath: String, ts0: DataFrame): Unit = {
    val tsDoc = broadcast(ts0.select(col("id").as("doc_id")))
    val nBuckets = bm25Buckets(spark, indexPath)
    // ≤ nBuckets partition values each — bounded driver state. Both
    // tables' affected-partition sets come from ONE collect (r14 opt:
    // they are independent reads, and the doclen set does not depend on
    // the tf/df swaps — one job schedules both scans concurrently
    // instead of two driver round-trips bracketing the swaps).
    val affected = Bm25Tf.read(spark, indexPath).join(tsDoc, Seq("doc_id"))
      .select(lit("tf").as("_t"), col("bucket").cast("string").as("_b"))
      .distinct()
      .unionByName(
        Bm25Doclen.read(spark, indexPath).join(tsDoc, Seq("doc_id"))
          .select(lit("dl").as("_t"), col("dbucket").cast("string").as("_b"))
          .distinct())
      .collect()
    def affectedIn(t: String) =
      affected.filter(_.getString(0) == t).map(_.getString(1)).toSeq
    // The two chains overlap on driver threads (r15 — the
    // strict sequence measured 5.2 s / 36 near-serial jobs as q248's
    // dominant stage): nothing in the tf chain reads doclen/totals and
    // nothing in the doclen chain reads tf/df, and each swap is
    // crash-safe on its own with the tombstones — cleared LAST, after
    // BOTH chains settled — masking every intermediate state
    // (ForgetCycleSpec's interrupted-purge coverage).
    def tfChain(): Unit = {
      graft.engine.IndexLifecycle.dropFromPartitions(spark, indexPath, Bm25Tf,
        affectedIn("tf"), ts0)
      // df stage is MISMATCH-driven, not affected-driven: a purge that
      // died after the tf swap leaves tombstones pending and tf already
      // purged, so on re-entry the affected tf set reads empty — the
      // stale df buckets are found by comparing the partials against
      // the post-swap tf directly (one tf-wide aggregation at purge
      // cadence; ForgetCycleSpec's interrupted-purge test is the
      // regression). In a fresh purge the mismatch set equals the
      // touched-token buckets — the df counts of a deleted doc's tokens
      // strictly drop.
      val tfCounts = Bm25Tf.read(spark, indexPath)
        .groupBy(col("token"), col("bucket").cast("string").as("bucket"))
        .agg(count(lit(1)).as("_c"))
      val staleDf = Bm25Df.read(spark, indexPath)
        .groupBy(col("token"), col("bucket").cast("string").as("bucket"))
        .agg(sum(col("dft")).as("_d"))
        .join(tfCounts, Seq("token", "bucket"), "full_outer")
        .filter(coalesce(col("_d"), lit(-1L)) =!= coalesce(col("_c"), lit(-1L)))
        .select(col("bucket")).distinct()
        .collect().map(_.getString(0)).toSeq
      if (staleDf.nonEmpty)
        graft.engine.Layout.stagedPartitionReplace(spark,
            Bm25Df.path(indexPath)) { (stg, _) =>
          // recompute from the PURGED tf (exact per-bucket counts —
          // partials collapse to one segment per touched bucket)
          Bm25Df.stage(Bm25Tf.read(spark, indexPath)
            .filter(col("bucket").cast("string").isin(staleDf: _*))
            .groupBy(col("token"), col("bucket"))
            .agg(count(lit(1)).as("dft"))
            .repartition(col("bucket")), stg)
          graft.engine.IndexLifecycle.stageEmpties(spark, stg, Bm25Df, staleDf)
        }
    }
    def doclenChain(): Unit = {
      // from the same up-front collect: tf/df swaps never touch doclen,
      // so the pre-swap detection is exact here
      graft.engine.IndexLifecycle.dropFromPartitions(spark, indexPath,
        Bm25Doclen, affectedIn("dl"), ts0)
      // totals: ONE consolidated row recomputed from the purged doclen
      // (sum over a slim per-doc relation at purge cadence)
      graft.engine.Layout.stagedReplace(spark, Bm25Totals.path(indexPath)) { stg =>
        Bm25Totals.stage(Bm25Doclen.read(spark, indexPath)
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
          .withColumn("n_buckets", lit(nBuckets))
          .coalesce(1), stg)
      }
    }
    graft.engine.Orchestrate.parallel(Seq(() => tfChain(), () => doclenChain()))
  }

  /** Integrity audit (fsck) of a persisted BM25 index — the
    * [[graft.vector.Similarity.fsckIvfAdcIndex]] contract on the
    * lexical tier: one row per invariant,
    * `(check_name, ok, n_violations, detail)`. Checks: the four
    * layout parts exist; one doclen row per doc; every tf doc exists
    * in doclen; per-doc dl equals the tf sum (these two hold even
    * under pending tombstones — both relations mask together); df
    * partials sum to the tf-derived per-token counts and totals to
    * the doclen aggregates (both STALE BY DESIGN under pending
    * tombstones — probes re-derive them live, so staleness is
    * reported benign exactly like the signature tier's freq check);
    * every tf bucket and doclen dbucket matches the stored hash (a
    * wrong-bucket row would silently escape partition pruning); no
    * in-flight swap leftovers; pending tombstone count surfaced.
    * Fault-injection spec'd (FsckSpec): each check FIRES on a
    * corrupted index.
    */
  def fsckBm25Index(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String): DataFrame = {
    import spark.implicits._
    val missing = Seq(Bm25Tf, Bm25Df, Bm25Doclen, Bm25Totals)
      .filterNot(_.exists(spark, indexPath)).map(_.name)
    val layoutRow = Seq(("layout_parts", missing.isEmpty, missing.size.toLong,
      if (missing.isEmpty) "tf/df/doclen/totals present"
      else s"missing: ${missing.mkString(",")}"))
    if (missing.nonEmpty)
      return layoutRow.toDF("check_name", "ok", "n_violations", "detail")
    val tombstoned = graft.engine.Layout.tombstones(spark, indexPath)
      .map(_.count()).getOrElse(0L)
    val nBuckets = bm25Buckets(spark, indexPath)
    val tf = Bm25Tf.read(spark, indexPath)
    val dl = Bm25Doclen.read(spark, indexPath)
    // ONE doc-keyed pass computes every per-doc invariant (r14 opt:
    // the check-per-action form scanned tf 4× and doclen 4× — at
    // corpus scale each extra scan is a full index read, and locally
    // each action pays fixed job overhead). tf aggregates per doc
    // (carrying its bucket-mismatch row count), doclen aggregates per
    // (doc, dl) so duplicate-row multiplicity survives, and a single
    // full-outer join + final aggregate yields counts identical to the
    // per-check originals (FsckSpec's fault-injection matrix is the
    // regression). NULL-doc corner (ADVICE r14): doc_id derives via
    // cast("long"), so non-numeric ids null out and ARE reachable —
    // the full-outer join never matches null keys, but the groupBy
    // after it merges both sides' null rows into one group, so the
    // orphan count ALSO fires on a null-doc group that carries tf rows
    // (the pre-r14 distinct+left_anti counted a null tf doc always):
    //   dup_docs  — docs with >1 doclen rows    (was: dl groupBy>1)
    //   orphans   — tf docs absent from doclen, plus the null-doc
    //               group when it has tf rows (was: distinct anti-join,
    //               where a null key never matches)
    //   dl_bad    — doclen ROWS (multiplicity) whose dl != the tf sum
    //   bucket_bad— tf rows with a wrong bucket + dl rows with a
    //               wrong dbucket (null comparisons excluded, as the
    //               original filters did)
    //   n_dl_rows/dl_sum — the doclen aggregates the totals check needs
    val tfSide = tf.select(col("doc_id"), col("tf"),
        when(col("bucket") =!= pmod(hash(col("token")), lit(nBuckets)),
          lit(1L)).otherwise(lit(0L)).as("_tbad"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("_s"), sum(col("_tbad")).as("_tb"),
        count(lit(1)).as("_trows"))
    val dlSide = dl.select(col("doc_id"), col("dl"),
        when(col("dbucket") =!= pmod(hash(col("doc_id")), lit(nBuckets)),
          lit(1L)).otherwise(lit(0L)).as("_dbad"))
      .groupBy(col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("_m"), sum(col("_dbad")).as("_db"))
    val docChecks = dlSide.join(tfSide, Seq("doc_id"), "full_outer")
      .groupBy(col("doc_id"))
      .agg(sum(col("_m")).as("_rows"), max(col("_tb")).as("_tbm"),
        max(col("_trows")).as("_trm"), sum(col("_db")).as("_dbs"),
        sum(when(col("_s") =!= col("dl"), col("_m")).otherwise(lit(0L)))
          .as("_dlbad"),
        sum(col("dl") * col("_m")).as("_dlsum"))
      .agg(
        coalesce(sum(when(col("_rows") > 1, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("c1"),
        coalesce(sum(when(col("_trm").isNotNull &&
          (col("_rows").isNull || col("doc_id").isNull),
          lit(1L)).otherwise(lit(0L))), lit(0L)).as("c2"),
        coalesce(sum(col("_dlbad")), lit(0L)).as("c3"),
        (coalesce(sum(col("_tbm")), lit(0L)) +
          coalesce(sum(col("_dbs")), lit(0L))).as("c4"),
        coalesce(sum(col("_rows")), lit(0L)).as("c5"),
        coalesce(sum(col("_dlsum")), lit(0L)).as("c6"))
      .select(lit("doc").as("chk"), col("c1"), col("c2"), col("c3"),
        col("c4"), col("c5"), col("c6"))
    // token-keyed pass (df partials vs tf-derived counts) and the
    // totals read ride the SAME collect as union branches — one Spark
    // job schedules all three subtrees concurrently. Skipped under
    // pending tombstones exactly as before (stale by design).
    val branches =
      if (tombstoned > 0) Seq(docChecks)
      else Seq(docChecks,
        Bm25Df.read(spark, indexPath)
          .groupBy(col("token")).agg(sum(col("dft")).as("_d"))
          .join(tf.groupBy(col("token")).agg(count(lit(1)).as("_c")),
            Seq("token"), "full_outer")
          .agg(coalesce(sum(when(coalesce(col("_d"), lit(-1L)) =!=
              coalesce(col("_c"), lit(-1L)), lit(1L)).otherwise(lit(0L))),
            lit(0L)).as("c1"))
          .select(lit("df").as("chk"), col("c1"), lit(0L).as("c2"),
            lit(0L).as("c3"), lit(0L).as("c4"), lit(0L).as("c5"),
            lit(0L).as("c6")),
        Bm25Totals.read(spark, indexPath)
          .agg(coalesce(sum(col("n_docs")), lit(0L)).as("c1"),
            coalesce(sum(col("sum_dl")), lit(0L)).as("c2"))
          .select(lit("tot").as("chk"), col("c1"), col("c2"),
            lit(0L).as("c3"), lit(0L).as("c4"), lit(0L).as("c5"),
            lit(0L).as("c6")))
    val rows = branches.reduce(_ unionByName _).collect()
      .map(r => r.getString(0) -> r).toMap
    val doc = rows("doc")
    val dupDocs = doc.getLong(1)
    val orphans = doc.getLong(2)
    val dlBad = doc.getLong(3)
    val bucketBad = doc.getLong(4)
    val (dfOk, dfN, dfDetail) =
      if (tombstoned > 0) (true, 0L,
        s"stale by design under $tombstoned pending tombstones")
      else {
        val n = rows("df").getLong(1)
        (n == 0L, n, "df partials sum to tf-derived per-token counts")
      }
    val (totOk, totN, totDetail) =
      if (tombstoned > 0) (true, 0L,
        s"stale by design under $tombstoned pending tombstones")
      else {
        val t = rows("tot")
        val bad = (if (t.getLong(1) == doc.getLong(5)) 0L else 1L) +
          (if (t.getLong(2) == doc.getLong(6)) 0L else 1L)
        (bad == 0L, bad, "totals partials sum to the doclen aggregates")
      }
    val leftovers = graft.engine.IndexLifecycle.swapLeftovers(
      graft.engine.IndexLifecycle.Bm25, spark, indexPath)
    (layoutRow ++ Seq(
      ("doclen_unique", dupDocs == 0L, dupDocs, "one doclen row per doc"),
      ("doc_universe", orphans == 0L, orphans,
        "every tf doc exists in doclen"),
      ("dl_consistent", dlBad == 0L, dlBad,
        "per-doc dl equals the tf sum"),
      ("df_consistent", dfOk, dfN, dfDetail),
      ("totals_consistent", totOk, totN, totDetail),
      ("buckets_consistent", bucketBad == 0L, bucketBad,
        "every bucket/dbucket matches the stored hash"),
      ("no_swap_leftovers", leftovers.isEmpty, leftovers.size.toLong,
        if (leftovers.isEmpty) "no in-flight swap"
        else s"run the heal: ${leftovers.mkString(",")}"),
      ("tombstones_pending", true, tombstoned,
        "pending forget requests (anti-joined on read; purge folds them)")))
      .toDF("check_name", "ok", "n_violations", "detail")
      .orderBy(col("check_name"))
  }

  /** Feature-hashing TF-IDF document vectors — the "hashing trick"
    * (Weinberger et al., ICML 2009): token → bucket via a fixed hash
    * (first 32 bits of md5, the engine-portable q33 convention), weight
    * = tf · smoothed-idf (sklearn's ln((1+N)/(1+df)) + 1, fixed to the
    * 12-dp grid — ln is a transcendental, never shipped unrounded),
    * colliding tokens sum. Returns the SPARSE form — one row per
    * (doc, bucket): `(doc_id, bucket, n_terms, weight)` — which is the
    * 100 TB-shaped output: at most `dim` rows per doc, no dense
    * dim-array materialized per document until a consumer asks
    * ([[hashedTfidfEmbed]]).
    *
    * Why it belongs in a training-data pipeline: it gives every doc an
    * embedding with NO trained model in the loop — deterministic,
    * vocabulary-unbounded (no dictionary to build or ship), and good
    * enough to drive near-dup candidate generation and topic-ish
    * clustering through the whole vector family (cosine top-k, IVF,
    * SemDeDup) when model embeddings are unavailable or too expensive
    * at corpus scale.
    *
    * Shape: one token shuffle (tf), one vocabulary aggregation (df —
    * co-partitioned with tf on token, no second corpus shuffle), one
    * (doc, bucket) aggregation. Weights are exact decimals (tf ≤ 10^7
    * as DECIMAL(7,0) × idf DECIMAL(16,12) — inside precision 38), so
    * bucket sums are order-independent and the DuckDB oracle replays
    * them bit-for-bit.
    */
  def hashedTfidf(df: DataFrame, idCol: String, textCol: String,
                  dim: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(dim >= 2 && dim <= 65536, s"dim must be in [2, 65536], got $dim")
    val docs = df.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("_t"))
    val nDocs = docs.count() // one aggregate-sized driver scalar
    // NOT spread (r15 A/B): parallelizing the tokenize+explode measured
    // consistently SLOWER on every hashedTfidf consumer (q199 1.9→2.3,
    // q200 3.3→4.9, q202 2.2→2.8 warm) — the tf/idf/bucket aggregation
    // chain downstream dominates and the extra map tasks only add
    // per-stage overhead
    val toks = docs
      .select(col("doc_id"), explode(tokens(col("_t"))).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    // df rides the SAME token partitioning tf just established
    val idf = tf.groupBy(col("token")).agg(count(lit(1)).as("_df"))
      .withColumn("idf",
        round(log((lit(nDocs.toDouble) + lit(1.0)) /
          (col("_df").cast("double") + lit(1.0))) + lit(1.0), 12)
          .cast(DecimalType(16, 12)))
      .select(col("token"), col("idf"))
    tf.join(idf, Seq("token"))
      .withColumn("bucket",
        conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long")
          % lit(dim.toLong))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("tf").cast(DecimalType(7, 0)) * col("idf")).as("_w"))
      .select(col("doc_id"), col("bucket"), col("n_terms"),
        col("_w").cast("double").as("weight"))
  }

  /** Dense `dim`-vector assembly over [[hashedTfidf]] — the bridge from
    * raw text into the vector family ([[graft.vector.Similarity]]):
    * `(doc_id, embedding: array<double>)`, zeros where no token hashed.
    * Map-side per doc (one map_from_entries + one bounded transform);
    * docs with no tokens embed as the zero vector, which every cosine
    * consumer excludes by its zero-norm convention.
    */
  def hashedTfidfEmbed(df: DataFrame, idCol: String, textCol: String,
                       dim: Int): DataFrame = {
    val sparse = hashedTfidf(df, idCol, textCol, dim)
    val m = sparse.groupBy(col("doc_id"))
      .agg(map_from_entries(array_sort(
        collect_list(struct(col("bucket"), col("weight"))))).as("_m"))
    df.select(col(idCol).cast("long").as("doc_id")).join(m, Seq("doc_id"), "left")
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(try_element_at(col("_m"), i.cast("long")), lit(0.0)))
          .as("embedding"))
  }
}
