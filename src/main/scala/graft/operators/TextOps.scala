package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table (north-star
  * LLM-pipeline surface): quality scoring, language ID, token stats,
  * fingerprinting. All per-document metrics are computed with
  * higher-order array functions — row-local, zero shuffle, fully inside
  * whole-stage codegen — so they scale linearly with the scan.
  */
object TextOps {

  val EnStop: Seq[String] = Seq("the", "a", "of", "and", "is", "to", "in")

  /** Small marker vocabularies per language for the n-gram/stopword
    * language-ID heuristic. (The synthetic corpus is English-ish word
    * soup, so `en` dominates; the operator is the point, not the corpus.)
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "is", "to"),
    "es" -> Seq("el", "los", "las", "y", "es", "que"),
    "fr" -> Seq("le", "les", "et", "est", "une", "que"),
    "zh" -> Seq("de5", "le5", "shi4", "bu4", "wo3", "ni3"))

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  /** Per-document quality metrics: token count, mean token length,
    * stopword ratio, unique-token ratio, punctuation ratio.
    */
  def quality(docs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.ratio
    val toks = tokens(col("text"))
    val n = size(toks).cast("long")
    val sumLen = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (s, x) => s + x)
    val punct = length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("long")
    // int/int ratios via exact integer rounding (DetAgg) — float round
    // of small-denominator rationals diverges between engines
    docs.select(
      col("doc_id"),
      n.as("n_tokens"),
      ratio(sumLen, n).as("avg_token_len"),
      ratio(countIn(toks, EnStop), n).as("stop_ratio"),
      ratio(size(array_distinct(toks)), n).as("uniq_ratio"),
      ratio(punct, col("n_chars")).as("punct_ratio"))
      .orderBy("doc_id")
  }

  /** Stopword-scoring language ID: argmax of per-language marker hits,
    * alphabetical tie-break, `unknown` when nothing matches.
    */
  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val scores = LangMarkers.map { case (l, ws) => l -> countIn(toks, ws) }
    val m = greatest(scores.map(_._2): _*)
    val pred = scores.foldRight(lit("unknown")) { case ((l, sc), other) =>
      when(sc === m && m > 0, lit(l)).otherwise(other)
    }
    docs.select(col("doc_id"), col("lang"), pred.as("pred_lang"))
      .orderBy("doc_id")
  }

  /** Model-free quality ENSEMBLE — the rank-average combiner: each doc
    * is ranked (ascending, doc_id ties) on three independent signals
    * (unique-token ratio, stopword ratio, length), and the composite
    * is the rank sum — the standard way to fuse incomparable quality
    * scores without learned weights (the curation twin of q113's RRF).
    * Top-k by composite = the "best documents by consensus" sample a
    * curation pass reviews first.
    *
    * Scale shape: the per-doc signals are row-local; the three global
    * rank windows are UNPARTITIONED (`Window.orderBy`) — each
    * serializes the corpus through ONE task, which is the deliberate
    * audit-sample constraint, not an oversight: this operator must
    * only ever run on a bounded sample. On the full 100 TB corpus the
    * ranks come from [[ScaleOps.sampledQuantiles]] binning (same
    * downstream composite, no global sort); wiring that swap is the
    * contract for any caller feeding an unbounded frame.
    */
  def qualityEnsemble(docs: DataFrame, k: Int = 20): DataFrame = {
    import graft.functions.DetAgg.ratio
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val n = size(toks).cast("long")
    val base = docs.select(col("doc_id"), n.as("n_tokens"),
      ratio(countIn(toks, EnStop), n).as("stop_ratio"),
      ratio(size(array_distinct(toks)), n).as("uniq_ratio"))
    def rk(c: String) = row_number()
      .over(Window.orderBy(col(c), col("doc_id"))).cast("long")
    base
      .withColumn("r_uniq", rk("uniq_ratio"))
      .withColumn("r_stop", rk("stop_ratio"))
      .withColumn("r_len", rk("n_tokens"))
      .withColumn("composite", col("r_uniq") + col("r_stop") + col("r_len"))
      .orderBy(col("composite").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_tokens"), col("r_uniq"), col("r_stop"),
        col("r_len"), col("composite"))
  }

  /** Oracle SQL twin of [[qualityEnsemble]]. */
  def qualityEnsembleOracle(k: Int = 20): String = {
    import graft.functions.DetAgg.ratioSql
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
       |           FROM documents),
       |t AS (SELECT doc_id, unnest(tk) AS tok FROM d),
       |ag AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    sum(CASE WHEN tok IN ${inList(EnStop)} THEN 1 ELSE 0 END) AS stops,
       |    count(DISTINCT tok) AS uniq
       |  FROM t GROUP BY 1
       |), b AS (
       |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    ${ratioSql("stops", "n_tokens")} AS stop_ratio,
       |    ${ratioSql("uniq", "n_tokens")} AS uniq_ratio
       |  FROM ag
       |), r AS (
       |  SELECT doc_id, n_tokens,
       |    row_number() OVER (ORDER BY uniq_ratio, doc_id) AS r_uniq,
       |    row_number() OVER (ORDER BY stop_ratio, doc_id) AS r_stop,
       |    row_number() OVER (ORDER BY n_tokens, doc_id) AS r_len
       |  FROM b
       |)
       |SELECT doc_id, n_tokens, r_uniq, r_stop, r_len,
       |  r_uniq + r_stop + r_len AS composite
       |FROM r ORDER BY composite DESC, doc_id LIMIT $k""".stripMargin
  }

  /** q254: [[qualityEnsemble]]'s approx-binned arm — the 100× scale
    * path for its three unpartitioned rank windows: each signal's
    * "rank" becomes a bin index 1..`bins` from sampled boundaries
    * ([[ScaleOps.sampledBinIntervals]] — three ≤bins-row broadcast
    * interval joins, entirely map-side), the composite is the bin
    * sum, and the top-k is a TakeOrdered (distributed heap-k, never
    * a global sort). QualityBinnedSpec bounds each doc's bin against
    * its exact rank percentile at sf0.01. Same column shape with
    * bins in place of ranks; own hash-gated oracle.
    */
  def qualityEnsembleBinned(docs: DataFrame, k: Int = 20,
                            bins: Int = 64, kSamp: Int = 256): DataFrame =
    qualityBinnedFrame(docs, bins, kSamp)
      .orderBy(col("composite").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_tokens"), col("b_uniq"),
        col("b_stop"), col("b_len"), col("composite"))

  /** The shared per-doc signal frame both quality arms rank/bin. */
  private[graft] def qualitySignals(docs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.ratio
    val toks = tokens(col("text"))
    val n = size(toks).cast("long")
    docs.select(col("doc_id"), n.as("n_tokens"),
      ratio(countIn(toks, EnStop), n).as("stop_ratio"),
      ratio(size(array_distinct(toks)), n).as("uniq_ratio"))
  }

  /** [[qualityEnsembleBinned]]'s pre-limit per-doc frame (exposed for
    * the agreement spec). */
  private[graft] def qualityBinnedFrame(docs: DataFrame, bins: Int = 64,
                                        kSamp: Int = 256): DataFrame = {
    val base = qualitySignals(docs)
    val hx = portableHash(reverse(col("doc_id").cast("string")))
    def iv(metric: String, out: String) =
      ScaleOps.sampledBinIntervals(base, hx, col("doc_id"),
          col(metric), bins, kSamp)
        .select(col("bin").as(out), col("lo"), col("hi"))
    val b1 = ScaleOps.binAssign(base, iv("uniq_ratio", "b_uniq"),
      col("uniq_ratio"))
    val b2 = ScaleOps.binAssign(b1, iv("stop_ratio", "b_stop"),
      col("stop_ratio"))
    val b3 = ScaleOps.binAssign(b2, iv("n_tokens", "b_len"),
      col("n_tokens"))
    b3.withColumn("composite",
      col("b_uniq") + col("b_stop") + col("b_len"))
  }

  /** Oracle SQL twin of [[qualityEnsembleBinned]]. */
  def qualityEnsembleBinnedOracle(k: Int = 20, bins: Int = 64,
                                  kSamp: Int = 256): String = {
    import graft.functions.DetAgg.ratioSql
    val h = graft.functions.TextFunctions.portableHashSql(
      "reverse(CAST(doc_id AS VARCHAR))")
    def base(metric: String) =
      s"(SELECT $h AS hx, doc_id AS id, $metric AS v FROM b)"
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
       |           FROM documents),
       |t AS (SELECT doc_id, unnest(tk) AS tok FROM d),
       |ag AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    sum(CASE WHEN tok IN ${inList(EnStop)} THEN 1 ELSE 0 END) AS stops,
       |    count(DISTINCT tok) AS uniq
       |  FROM t GROUP BY 1
       |), b AS (
       |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    ${ratioSql("stops", "n_tokens")} AS stop_ratio,
       |    ${ratioSql("uniq", "n_tokens")} AS uniq_ratio
       |  FROM ag
       |), ${ScaleOps.binIntervalsSql(base("uniq_ratio"), bins, kSamp, "u")},
       |${ScaleOps.binIntervalsSql(base("stop_ratio"), bins, kSamp, "s")},
       |${ScaleOps.binIntervalsSql(base("n_tokens"), bins, kSamp, "l")},
       |r AS (
       |  SELECT bb.doc_id, bb.n_tokens, uiv.bin AS b_uniq,
       |    siv.bin AS b_stop, liv.bin AS b_len
       |  FROM b bb
       |  JOIN uiv ON (uiv.lo IS NULL OR bb.uniq_ratio > uiv.lo)
       |    AND (uiv.hi IS NULL OR bb.uniq_ratio <= uiv.hi)
       |  JOIN siv ON (siv.lo IS NULL OR bb.stop_ratio > siv.lo)
       |    AND (siv.hi IS NULL OR bb.stop_ratio <= siv.hi)
       |  JOIN liv ON (liv.lo IS NULL OR bb.n_tokens > liv.lo)
       |    AND (liv.hi IS NULL OR bb.n_tokens <= liv.hi)
       |)
       |SELECT doc_id, n_tokens, b_uniq, b_stop, b_len,
       |  b_uniq + b_stop + b_len AS composite
       |FROM r ORDER BY composite DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Language-ID confusion matrix — [[langId]]'s per-doc predictions
    * rolled up against the labeled `lang` column: one (label, pred)
    * cell per combination with counts, the standard classifier eval
    * view (diagonal = hits; a hot off-diagonal cell = a marker list
    * that bleeds into a neighbour language).
    *
    * Scale shape: prediction is row-local ([[langId]]); the rollup is
    * one |langs|²-bounded groupBy with map-side partials.
    */
  def langConfusion(docs: DataFrame): DataFrame =
    langId(docs)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  /** Oracle SQL twin of [[langConfusion]] — wraps the [[langIdOracle]]
    * per-doc view (one definition of the argmax tie-break).
    */
  def langConfusionOracle: String =
    s"""WITH li AS (
       |${langIdOracle}
       |)
       |SELECT lang, pred_lang, count(*) AS n
       |FROM li GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Token counting, whitespace vs regex ("BPE-ish" alphanumeric-run)
    * tokenizations side by side (north-star text-analysis surface). Both
    * are row-local array ops — no shuffle.
    */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val ws = tokens(col("text"))
    val re = filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "")
    docs.select(
      col("doc_id"),
      size(ws).cast("long").as("n_ws_tokens"),
      size(re).cast("long").as("n_re_tokens"),
      col("n_chars"))
      .orderBy("doc_id")
  }

  def tokenCountsOracle: String =
    """SELECT d.doc_id,
      |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_ws_tokens,
      |  (SELECT count(*) FROM (
      |     SELECT unnest(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS tok) u
      |   WHERE u.tok <> '') AS n_re_tokens,
      |  d.n_chars
      |FROM documents d ORDER BY d.doc_id""".stripMargin

  /** Gopher-style repetition metrics per document: duplicate-bigram
    * fraction and most-frequent-bigram fraction — the standard
    * boilerplate/loop detectors for corpus filtering (Rae et al. 2021,
    * Gopher §A1.1, filter on duplicate n-gram fractions exactly like
    * these). Entirely row-local higher-order array ops — zero shuffle,
    * no per-doc token state ever crosses the wire. The top frequency
    * is the longest equal-run in the SORTED bigram array (one
    * O(n log n) sort + one O(n) fold per row) — the naive
    * per-distinct-element count is O(distinct·n) per row, which at
    * interpreted-HOF speed dominated the whole bench suite.
    */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.ratio
    val bg = shingles(tokens(col("text")), 2)
    val n = size(bg).cast("long")
    val nd = size(array_distinct(bg)).cast("long")
    // fold state: (previous element, current run length, best run);
    // bigrams are never "" so the seed can't extend a run
    val top = aggregate(sort_array(bg),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (a, x) => {
        val run = when(x === a.getField("prev"), a.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(a.getField("best"), run).as("best"))
      },
      a => a.getField("best")).cast("long")
    docs.select(col("doc_id"), n.as("n_bigrams"),
        ratio(n - nd, n).as("dup_ratio"),
        ratio(top, n).as("top_ratio"))
      .where(col("n_bigrams") > 0)
      .orderBy("doc_id")
  }

  /** Oracle SQL twin of [[repetitionMetrics]]. */
  def repetitionMetricsOracle: String = {
    import graft.functions.DetAgg.ratioSql
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |bg AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g
       |       FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
       |             FROM toks WHERE len(tk) >= 2) t),
       |cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
       |ag AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
       |       count(*) AS nd, CAST(max(c) AS BIGINT) AS topc
       |       FROM cnt GROUP BY 1)
       |SELECT doc_id, n AS n_bigrams,
       |  ${ratioSql("n - nd", "n")} AS dup_ratio,
       |  ${ratioSql("topc", "n")} AS top_ratio
       |FROM ag ORDER BY doc_id""".stripMargin
  }

  /** Normalization/cleanup pass: strip stopwords, emit before/after
    * token counts and an md5 fingerprint of the normalized text — the
    * reproducibility receipt a preprocessing stage hands downstream
    * (two pipeline runs, or two engines, agree on EXACTLY the bytes
    * entering tokenization iff the fingerprints agree). Row-local,
    * zero shuffle, scan speed.
    */
  def stripStopwords(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val kept = filter(toks, t => !t.isin(EnStop: _*))
    docs.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(kept).cast("long").as("n_kept"),
        md5(array_join(kept, " ")).as("norm_md5"))
      .orderBy("doc_id")
  }

  /** Oracle SQL twin of [[stripStopwords]] — avoids list lambdas (kept
    * conservative for older DuckDB): positions are exploded, filtered,
    * and re-joined in position order.
    */
  def stripStopwordsOracle: String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |tu AS (SELECT doc_id, i, tk[i] AS tok
       |       FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
       |             FROM toks) t),
       |k AS (SELECT doc_id, count(*) AS n_kept,
       |      string_agg(tok, ' ' ORDER BY i) AS norm
       |      FROM tu WHERE tok NOT IN ${inList(EnStop)} GROUP BY 1),
       |n AS (SELECT doc_id, count(*) AS n_tokens FROM tu GROUP BY 1)
       |SELECT n.doc_id, n.n_tokens,
       |  coalesce(k.n_kept, 0) AS n_kept,
       |  md5(coalesce(k.norm, '')) AS norm_md5
       |FROM n LEFT JOIN k USING (doc_id) ORDER BY n.doc_id""".stripMargin

  /** Corpus-frequency quality score per document — the deterministic
    * stand-in for an LM-perplexity filter (CCNet scores docs with a
    * KenLM model; the integer-exact proxy here is "how common are this
    * doc's tokens in the corpus"): avg and min corpus count over the
    * doc's tokens. Junk/noise docs score a low min (they contain
    * corpus-rare garbage tokens); boilerplate scores a high avg.
    *
    * Scale shape: the vocabulary is counted once ((token, count) pairs
    * with map-side partials — the explode itself never shuffles) and
    * capped at `topK` by count so the scoring side is a BROADCAST
    * join no matter how big the corpus (64k tokens ≈ 1 MB; tokens
    * outside the cap count 0, the OOV convention). Per-doc sums then
    * partial-aggregate back to |docs| rows. Two small shuffles total,
    * both independent of corpus width.
    */
  def tokenCommonness(docs: DataFrame, topK: Int = 64000): DataFrame = {
    import graft.functions.DetAgg.ratio
    val tu = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val vocab = tu.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(topK)
    tu.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        min(coalesce(col("c"), lit(0L))).as("min_tf"),
        ratio(sum(coalesce(col("c"), lit(0L))), count(lit(1))).as("avg_tf"))
      .orderBy("doc_id")
  }

  /** Oracle SQL twin of [[tokenCommonness]]. */
  def tokenCommonnessOracle(topK: Int = 64000): String = {
    import graft.functions.DetAgg.ratioSql
    s"""WITH tu AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |            FROM documents),
       |vc AS (SELECT tok, count(*) AS c FROM tu GROUP BY 1
       |       ORDER BY c DESC, tok LIMIT $topK)
       |SELECT t.doc_id, count(*) AS n_tokens,
       |  CAST(min(coalesce(v.c, 0)) AS BIGINT) AS min_tf,
       |  ${ratioSql("sum(coalesce(v.c, 0))", "count(*)")} AS avg_tf
       |FROM tu t LEFT JOIN vc v USING (tok)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Vocabulary application — the step AFTER [[tokenCommonness]] has
    * scored and a vocab size is fixed: every token outside the
    * top-`topK` corpus vocabulary becomes `<unk>`; emits per-doc
    * token/unk counts and an md5 receipt of the masked text (the same
    * reproducibility contract as [[stripStopwords]]'s receipt).
    *
    * Scale shape: the vocabulary is ONE count-aggregate + TakeOrdered
    * (map-side partials; only (token, count) pairs shuffle), collected
    * as a k-sized literal list — masking is then entirely row-local at
    * scan speed, no per-token join back. The final sort is
    * presentation-only.
    */
  def unkMask(docs: DataFrame, topK: Int = 16): DataFrame = {
    // the vocab is [[tokenTopK]] — one definition of the (count DESC,
    // token ASC) tie-break that the oracle must mirror, not a copy
    val vocab = tokenTopK(docs, topK).collect().map(_.getString(0)).toSeq
    val toks = tokens(col("text"))
    val masked = transform(toks,
      t => when(t.isin(vocab: _*), t).otherwise(lit("<unk>")))
    docs.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => !t.isin(vocab: _*))).cast("long").as("n_unk"),
        md5(array_join(masked, " ")).as("masked_md5"))
      .orderBy("doc_id")
  }

  /** Oracle SQL twin of [[unkMask]] — position-exploded with the
    * masked text re-joined in position order (same lambda-free shape
    * as [[stripStopwordsOracle]]).
    */
  def unkMaskOracle(topK: Int = 16): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |tu AS (SELECT doc_id, i, tk[i] AS tok
       |       FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i
       |             FROM toks) t),
       |vc AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM tu GROUP BY 1
       |       ORDER BY c DESC, tok LIMIT $topK) v),
       |m AS (SELECT t.doc_id, t.i,
       |        CASE WHEN v.tok IS NULL THEN '<unk>' ELSE t.tok END AS mtok,
       |        v.tok AS vt
       |      FROM tu t LEFT JOIN vc v ON t.tok = v.tok)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
       |  md5(string_agg(mtok, ' ' ORDER BY i)) AS masked_md5
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** Global token frequency top-k: explode → partial-aggregated count →
    * TakeOrdered. The explode is narrow; only (token, count) pairs
    * shuffle.
    */
  def tokenTopK(docs: DataFrame, k: Int = 20): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Windowed token co-occurrence counts (the word2vec/PMI skip-gram
    * statistic): every unordered token pair within `w` positions of
    * each other, counted corpus-wide, thresholded at `minCount`.
    *
    * Scale design: pair generation is WINDOWED, not per-document
    * all-pairs — a doc of n tokens emits ≤ n·w pairs (linear), where
    * the naive distinct-tokens² expansion is quadratic and explodes on
    * long documents. Generation is row-local (nested transform off the
    * scan, one narrow Generate), so the only shuffle is the final
    * pair-count aggregate — map-side partials collapse it to the pair
    * vocabulary size. The `minCount` threshold is the standard PMI
    * noise floor.
    */
  def tokenCooccurrence(docs: DataFrame, w: Int = 3,
                        minCount: Long = 10L): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val withToks = docs.select(tokens(col("text")).as("tk"))
      .where(size(col("tk")) >= 2)
    // 1-indexed positions i in [1, n-1]; partners i+k, k in [1, min(w, n-i)]
    val pairs = flatten(transform(
      sequence(lit(1), size(col("tk")) - 1), i =>
        transform(sequence(lit(1),
          least(lit(w), size(col("tk")) - i)), k =>
            struct(
              least(element_at(col("tk"), i),
                    element_at(col("tk"), i + k)).as("a"),
              greatest(element_at(col("tk"), i),
                       element_at(col("tk"), i + k)).as("b")))))
    withToks.select(explode(pairs).as("p"))
      .groupBy(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      .agg(count(lit(1)).as("n_cooc"))
      .where(col("n_cooc") >= minCount)
      .orderBy("tok_a", "tok_b")
  }

  /** Oracle SQL twin of [[tokenCooccurrence]] — same 1-indexed window
    * arithmetic via unnest(generate_series).
    */
  def tokenCooccurrenceOracle(w: Int = 3, minCount: Long = 10L): String =
    s"""WITH t AS (
       |  SELECT string_split(text, ' ') AS tk FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2
       |), i AS (
       |  SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM t
       |), p AS (
       |  SELECT tk, i, unnest(generate_series(1, least($w, len(tk) - i))) AS k
       |  FROM i
       |)
       |SELECT least(tk[i], tk[i+k]) AS tok_a,
       |  greatest(tk[i], tk[i+k]) AS tok_b, count(*) AS n_cooc
       |FROM p GROUP BY 1, 2 HAVING count(*) >= $minCount
       |ORDER BY 1, 2""".stripMargin

  /** TextRank keyword extraction — PageRank over the
    * [[tokenCooccurrence]] graph (Mihalcea & Tarau's construction):
    * tokens are nodes, windowed co-occurrence pairs are edges, and the
    * stationary importance — not raw frequency — ranks keywords; a
    * token that co-occurs with many DIVERSE important tokens outranks
    * a merely frequent one. Reuses [[GraphOps.pageRankRanks]]'s exact
    * integer supersteps verbatim (node ids are token strings), so the
    * oracle composes the q61 co-occurrence CTEs with the shared q102
    * rank CTEs.
    */
  def textRank(docs: DataFrame, k: Int = 20, w: Int = 3,
               minCount: Long = 10L, iters: Int = 3): DataFrame = {
    // The co-occurrence frame is left lazy although the initial plan
    // references it ~11×: a same-window A/B (×4 alternating, sf0.1)
    // measured a persist slower every round (lazy 2.53/2.16/1.67/2.12 s
    // vs persist 4.19/3.03/2.96/2.86 s). AQE already reuses the
    // identical exchange subtrees in the final plan, so a cache only
    // adds a write barrier and serialized stage boundaries.
    val edges = tokenCooccurrence(docs, w, minCount)
      .select(col("tok_a").as("src"), col("tok_b").as("dst"))
    GraphOps.pageRankRanks(edges, iters)
      .select(col("node").as("token"), col("r").as("rank_ppb"))
      .orderBy(col("rank_ppb").desc, col("token"))
      .limit(k)
  }

  /** Oracle SQL twin of [[textRank]]. */
  def textRankOracle(k: Int = 20, w: Int = 3, minCount: Long = 10L,
                     iters: Int = 3): String =
    s"""WITH t AS (
       |  SELECT string_split(text, ' ') AS tk FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2
       |), i AS (
       |  SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM t
       |), p AS (
       |  SELECT tk, i, unnest(generate_series(1, least($w, len(tk) - i))) AS k
       |  FROM i
       |), e0 AS (
       |  SELECT least(tk[i], tk[i+k]) AS src,
       |    greatest(tk[i], tk[i+k]) AS dst
       |  FROM p GROUP BY 1, 2 HAVING count(*) >= $minCount
       |),
       |${GraphOps.pageRankCtesSql(iters)}
       |SELECT node AS token, CAST(r AS BIGINT) AS rank_ppb
       |FROM r$iters
       |ORDER BY rank_ppb DESC, token LIMIT $k""".stripMargin

  /** Winnowing (MOSS) rolling-hash fingerprints: hash every w-shingle
    * at its POSITION, take the window minimum over each run of `win`
    * consecutive shingle hashes, and fingerprint the document as the
    * distinct set of those minima. The standard local-fingerprinting
    * guarantee: any shared substring of ≥ w+win−1 tokens contributes at
    * least one IDENTICAL fingerprint to both documents, while only
    * ~1/win of positions are retained.
    *
    * Scale shape: positional shingles are a narrow Generate off the
    * scan; the rolling min is one window pass partitioned by doc (the
    * per-doc shingle run always fits a partition); the summary is one
    * partial+final aggregate. No self-joins, no row blowup beyond the
    * shingle stream.
    */
  def winnowingFingerprints(docs: DataFrame, w: Int = 3,
                            win: Int = 4): DataFrame =
    winnowStream(docs, w, win)
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("mh")).as("n_fp"),
        min(col("mh")).as("min_fp"), max(col("mh")).as("max_fp"))
      .orderBy("doc_id")

  /** The winnowing fingerprint stream (doc_id, pos, mh), full windows
    * only — the shared prefix of [[winnowingFingerprints]] (per-doc
    * rollup) and [[sharedFingerprints]] (cross-doc grouping). One
    * per-doc window shuffle; everything upstream is a narrow Generate
    * off the scan.
    */
  private def winnowStream(docs: DataFrame, w: Int, win: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shingled = docs.select(col("doc_id"),
      posexplode(shingles(tokens(col("text")), w)).as(Seq("pos", "sh")))
    val rollMin = min(portableHash(col("sh"))).over(
      Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(-(win - 1), 0))
    shingled
      .select(col("doc_id"), col("pos"), rollMin.as("mh"))
      .where(col("pos") >= win - 1) // full windows only
  }

  /** Cross-document repeated-substring detection — the substring-level
    * dup signal (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better") that document-level Jaccard cannot see:
    * a boilerplate paragraph pasted into thousands of otherwise-unique
    * pages never crosses a pair threshold, but its winnowing
    * fingerprints recur corpus-wide. Reports every fingerprint present
    * in at least `minDf` documents with its document frequency and id
    * range (the lookup key for a subsequent span-removal pass).
    *
    * Scale shape: the per-doc distinct comes FIRST (each doc
    * contributes a fingerprint once no matter how often it repeats
    * internally), then one groupBy over 8-byte hashes with map-side
    * partials. A corpus-wide boilerplate fingerprint is just a large
    * COUNT — there is no pair expansion anywhere, so a df-cap is not
    * needed (contrast [[graft.operators.DedupOp.MaxShingleDf]], which
    * guards a pair JOIN).
    */
  def sharedFingerprints(docs: DataFrame, w: Int = 3, win: Int = 4,
                         minDf: Long = 2L): DataFrame =
    winnowStream(docs, w, win)
      .select(col("doc_id"), col("mh")).distinct()
      .groupBy(col("mh"))
      .agg(count(lit(1)).as("df"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .where(col("df") >= minDf)
      .orderBy(col("df").desc, col("mh"))

  /** Shared CTE chain of [[winnowingOracle]] / [[sharedFingerprintsOracle]]
    * — mirrors [[winnowStream]] through the rolling-min `m` relation.
    */
  private def winnowCtes(w: Int, win: Int): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |s AS (
       |  SELECT doc_id, i AS pos,
       |    ${DedupOp.shingleConcatSql(w)} AS sh
       |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - ${w - 1})) AS i
       |        FROM toks WHERE len(tk) >= $w) t
       |), h AS (
       |  SELECT doc_id, pos, ${portableHashSql("sh")} AS hx FROM s
       |), m AS (
       |  SELECT doc_id, pos,
       |    min(hx) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN ${win - 1} PRECEDING AND CURRENT ROW) AS mh
       |  FROM h
       |)""".stripMargin

  def winnowingOracle(w: Int = 3, win: Int = 4): String =
    s"""WITH ${winnowCtes(w, win)}
       |SELECT doc_id, count(DISTINCT mh) AS n_fp,
       |  min(mh) AS min_fp, max(mh) AS max_fp
       |FROM m WHERE pos >= $win GROUP BY 1 ORDER BY 1""".stripMargin

  /** Oracle SQL twin of [[sharedFingerprints]]. */
  def sharedFingerprintsOracle(w: Int = 3, win: Int = 4,
                               minDf: Long = 2L): String =
    s"""WITH ${winnowCtes(w, win)},
       |fp AS (SELECT DISTINCT doc_id, mh FROM m WHERE pos >= $win)
       |SELECT mh, count(*) AS df,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM fp GROUP BY 1 HAVING count(*) >= $minDf
       |ORDER BY df DESC, mh""".stripMargin

  /** q288: winnowing fingerprint-density audit per source — retained
    * fingerprints over full shingle windows, against the MOSS
    * theoretical density 2/(win+1) (400 000 ppm at win = 4). The
    * storage-planning number for a fingerprint index (q52's
    * operational sibling): density far BELOW theory means heavy
    * intra-document repetition (one minimum survives many windows —
    * boilerplate), above-theory is impossible, and the per-source
    * spread says which crawl slices will blow up the q79 shared-
    * fingerprint index.
    *
    * Scale shape: the [[winnowingFingerprints]] stream (narrow
    * Generate + one per-doc window pass), one per-doc rollup, one
    * narrow (doc → source) join, one map-side-combined rollup to
    * |sources| rows.
    */
  def winnowDensity(docs: DataFrame, w: Int = 3,
                    win: Int = 4): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val perDoc = winnowStream(docs, w, win)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"), countDistinct(col("mh")).as("nf"))
    docs.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("nw"), lit(0L))).as("n_windows"),
        sum(coalesce(col("nf"), lit(0L))).as("n_fp"))
      .select(col("source"), col("n_docs"), col("n_windows"), col("n_fp"),
        when(col("n_windows") > 0L,
          halfUpDiv(col("n_fp") * 1000000L, col("n_windows")))
          .as("density_ppm"))
      .orderBy("source")
  }

  /** Oracle SQL twin of [[winnowDensity]]. */
  def winnowDensityOracle(w: Int = 3, win: Int = 4): String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH ${winnowCtes(w, win)},
       |pd AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nw,
       |    CAST(count(DISTINCT mh) AS BIGINT) AS nf
       |  FROM m WHERE pos >= $win GROUP BY 1
       |)
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(coalesce(pd.nw, 0)) AS BIGINT) AS n_windows,
       |  CAST(sum(coalesce(pd.nf, 0)) AS BIGINT) AS n_fp,
       |  CASE WHEN sum(coalesce(pd.nw, 0)) > 0 THEN
       |    ${halfUpDivSql("sum(coalesce(pd.nf, 0)) * 1000000",
                           "sum(coalesce(pd.nw, 0))")}
       |  END AS density_ppm
       |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q291: hapax legomena and type-token ratio per source — the
    * lexical-richness profile: share of a source's vocabulary seen
    * exactly once (hapax) or twice (dis legomena) WITHIN that source,
    * plus types-per-token. The per-source routing view of what
    * [[goodTuring]] estimates globally (N₁/N is the Good-Turing unseen
    * mass): a template-farm source shows a tiny hapax share (same
    * tokens repeating), an OCR-noise source an inflated one (garbage
    * tokens are all hapax) — both need different cleaning, and neither
    * is visible in q23's length/punct quality score.
    *
    * Scale shape: one token explode → one map-side-combined
    * (source, token) count → one rollup to |sources| rows; no joins,
    * no windows.
    */
  def hapaxBySource(docs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    docs.select(col("source"),
        explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n_dis"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("n_hapax"), col("n_dis"),
        halfUpDiv(col("n_hapax") * 1000000L, col("n_types"))
          .as("hapax_share_ppm"),
        halfUpDiv(col("n_types") * 1000000L, col("n_tokens"))
          .as("ttr_ppm"))
      .orderBy("source")
  }

  /** Oracle SQL twin of [[hapaxBySource]]. */
  def hapaxBySourceOracle: String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH t AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), c AS (
       |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
       |  FROM t GROUP BY 1, 2
       |), g AS (
       |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_hapax,
       |    CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis
       |  FROM c GROUP BY 1
       |)
       |SELECT source, n_tokens, n_types, n_hapax, n_dis,
       |  ${halfUpDivSql("n_hapax * 1000000", "n_types")}
       |    AS hapax_share_ppm,
       |  ${halfUpDivSql("n_types * 1000000", "n_tokens")} AS ttr_ppm
       |FROM g ORDER BY source""".stripMargin
  }

  /** q298: cumulative token-mass curve over quality deciles — "if the
    * corpus is cut at the top-X quality deciles, how much token mass
    * survives?": per uniq-ratio decile (best first), document count,
    * token mass, and the cumulative mass share. The curve a quality
    * threshold is actually chosen from (q294 shows the dup-rate per
    * decile, q267 budgets per source; this prices the CUT): a steep
    * curve means quality filtering is cheap in tokens, a flat one
    * means every decile dropped costs real training mass.
    *
    * Scale shape: one row-local pass (ratio + token count), one
    * map-side-combined rollup to ≤ 10 rows, one cumulative window
    * over those 10 rows.
    */
  def qualityMassCurve(docs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.{halfUpDiv, ratio}
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val n = size(toks).cast("long")
    val base = docs.select(
      least(floor(ratio(size(array_distinct(toks)).cast("long"), n)
        * 10.0).cast("long"), lit(9L)).as("uniq_decile"),
      n.as("nt"))
    val g = base.groupBy(col("uniq_decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val tot = g.agg(sum(col("n_tokens")).as("total"))
    g.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.orderBy(col("uniq_decile").desc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("uniq_decile"), col("n_docs"), col("n_tokens"),
        halfUpDiv(col("cum") * 1000000L, col("total"))
          .as("cum_share_ppm"))
      .orderBy(col("uniq_decile").desc)
  }

  /** Oracle SQL twin of [[qualityMassCurve]]. */
  def qualityMassCurveOracle: String = {
    import graft.functions.DetAgg.{halfUpDivSql, ratioSql}
    s"""WITH tc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |    CAST(count(DISTINCT tok) AS BIGINT) AS u
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |        FROM documents) t
       |  GROUP BY 1
       |), dd AS (
       |  SELECT least(CAST(floor(${ratioSql("u", "n")} * 10.0) AS BIGINT),
       |      9) AS uniq_decile,
       |    n AS nt
       |  FROM tc
       |), g AS (
       |  SELECT uniq_decile, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(nt) AS BIGINT) AS n_tokens
       |  FROM dd GROUP BY 1
       |), tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM g),
       |cm AS (
       |  SELECT uniq_decile, n_docs, n_tokens,
       |    CAST(sum(n_tokens) OVER (ORDER BY uniq_decile DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM g
       |)
       |SELECT uniq_decile, n_docs, n_tokens,
       |  ${halfUpDivSql("cm.cum * 1000000", "tt.total")} AS cum_share_ppm
       |FROM cm, tt ORDER BY uniq_decile DESC""".stripMargin
  }

  /** Fixed-size token chunking with stride — the training-data prep
    * step that turns documents into model-sized sequences. Chunk i
    * covers tokens [i·stride, i·stride + chunk); starts run while they
    * are inside the document, so a trailing partial chunk is kept (the
    * remainder feeds training too). Output is one row per chunk with
    * its token count and a portable content hash (the compact,
    * engine-reproducible stand-in for shipping chunk text through a
    * correctness gate).
    *
    * Scale shape: sequence+explode is a narrow Generate off the scan
    * and slice/hash are row-local — zero shuffle before the final
    * presentation sort; chunk output is ~n_tokens/stride rows per doc,
    * declared up front, no data-dependent blowup.
    */
  def chunkDocs(docs: DataFrame, chunk: Int = 64,
                stride: Int = 32): DataFrame =
    chunkFrames(docs, chunk, stride).orderBy("doc_id", "chunk_idx")

  /** [[chunkDocs]] without the presentation sort — the composable form
    * ([[spanDedupStats]] re-aggregates it, so sorting first would be
    * wasted work).
    */
  private def chunkFrames(docs: DataFrame, chunk: Int,
                          stride: Int): DataFrame = {
    require(chunk >= 1 && stride >= 1,
      s"chunk and stride must be >= 1, got chunk=$chunk stride=$stride")
    docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0L),
          expr(s"CAST((size(tk) - 1) DIV $stride AS BIGINT)")))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("tk"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(chunk)).as("ctk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ctk")).cast("long").as("n_tokens"),
        portableHash(array_join(col("ctk"), " ")).as("chunk_hash"))
  }

  /** Sub-document (span-level) dedup audit — the C4/RefinedWeb practice
    * of deduplicating REPEATED SPANS across documents, not just whole
    * docs: boilerplate headers, license blocks, and templated passages
    * recur inside otherwise-distinct pages, and whole-doc dedup (q21)
    * never sees them. Documents are cut into NON-overlapping
    * `span`-token windows (stride = span — overlapping windows would
    * double-count every duplicated region); the global first occurrence
    * of each span content-hash, in (doc_id, span_idx) order, is the
    * survivor, and every later occurrence marks its doc. Output per
    * doc: span count, duplicated-span count, and the dup ratio (the
    * quality signal a span-dedup pass would filter or rewrite on).
    *
    * Scale shape: span hashing is the row-local [[chunkDocs]] Generate;
    * first-occurrence ranking is ONE window shuffle keyed by the
    * 8-byte span hash (high cardinality — no hot key), and the per-doc
    * rollup partial-aggregates before its shuffle. Nothing is
    * quadratic; span text never rides a shuffle (hashes only).
    */
  def spanDedupStats(docs: DataFrame, span: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    chunkFrames(docs, span, span)
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        graft.functions.DetAgg.ratio(col("n_dup_spans"), col("n_spans"))
          .as("dup_ratio"))
      .orderBy("doc_id")
  }

  /** Oracle SQL twin of [[spanDedupStats]] — the [[chunkDocsOracle]]
    * CTE chain with stride = span, then the identical first-occurrence
    * window and per-doc rollup.
    */
  def spanDedupStatsOracle(span: Int = 32): String =
    s"""WITH dt AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |st AS (
       |  SELECT doc_id, tk,
       |    unnest(generate_series(0, (len(tk) - 1) // $span)) AS chunk_idx
       |  FROM dt
       |), ck AS (
       |  SELECT doc_id, chunk_idx,
       |    list_slice(tk, chunk_idx * $span + 1,
       |               chunk_idx * $span + $span) AS ctk
       |  FROM st
       |), h AS (
       |  SELECT doc_id, chunk_idx,
       |    ${portableHashSql("array_to_string(ctk, ' ')")} AS ch
       |  FROM ck
       |), f AS (
       |  SELECT doc_id,
       |    row_number() OVER (PARTITION BY ch ORDER BY doc_id, chunk_idx) AS rn
       |  FROM h
       |)
       |SELECT doc_id, count(*) AS n_spans,
       |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       |  ${graft.functions.DetAgg.ratioSql(
            "sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)", "count(*)")} AS dup_ratio
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  def chunkDocsOracle(chunk: Int = 64, stride: Int = 32): String =
    s"""WITH dt AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |st AS (
       |  SELECT doc_id, tk,
       |    unnest(generate_series(0, (len(tk) - 1) // $stride)) AS chunk_idx
       |  FROM dt
       |), ck AS (
       |  SELECT doc_id, chunk_idx,
       |    list_slice(tk, chunk_idx * $stride + 1,
       |               chunk_idx * $stride + $chunk) AS ctk
       |  FROM st
       |)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(len(ctk) AS BIGINT) AS n_tokens,
       |  ${portableHashSql("array_to_string(ctk, ' ')")} AS chunk_hash
       |FROM ck ORDER BY doc_id, chunk_idx""".stripMargin

  /** Per-document salient terms by tf-idf with the LINEAR idf variant
    * (idf = N/df instead of ln(N/df)): the score is then an exact
    * integer rational `tf·N / df`, which [[graft.functions.DetAgg]]
    * rounds identically in both engines — ln() is libm territory where
    * a 1-ulp cross-engine difference at a rounding boundary breaks
    * hash parity (see DetAgg's Scaladoc). Ranking is (score desc, term
    * asc), fully deterministic.
    *
    * Scale shape: tf is one (doc, term) aggregate; df re-aggregates
    * the (already distinct) tf pairs by term; N broadcasts as a
    * one-row frame; the per-doc top-k is a partitioned window with no
    * global sort until the k·docs-sized output.
    */
  def salientTerms(docs: DataFrame, topK: Int = 3): DataFrame = {
    import graft.functions.DetAgg
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        DetAgg.ratio(col("tf") * col("n_docs"), col("df")).as("tfidf_lin"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf_lin").desc, col("term"))))
      .where(col("rk") <= topK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf_lin"), col("rk").cast("long").as("rk"))
      .orderBy("doc_id", "rk")
  }

  def salientTermsOracle(topK: Int = 3): String = {
    import graft.functions.DetAgg
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
       |), dfreq AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY 1
       |), n AS (SELECT count(*) AS n_docs FROM documents),
       |sc AS (
       |  SELECT doc_id, term, tf, df,
       |    ${DetAgg.ratioSql("tf * n_docs", "df")} AS tfidf_lin
       |  FROM tf JOIN dfreq USING (term), n
       |), rk AS (
       |  SELECT sc.*, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY tfidf_lin DESC, term) AS rk
       |  FROM sc
       |)
       |SELECT doc_id, term, tf, df, tfidf_lin, CAST(rk AS BIGINT) AS rk
       |FROM rk WHERE rk <= $topK ORDER BY doc_id, rk""".stripMargin
  }

  /** Per-source approximate distinct-token count via HyperLogLog++
    * (`approx_count_distinct`) next to the exact row count. The sketch
    * is the 100 TB path for cardinality: it merges associatively
    * across partitions (one map-side sketch per partition, constant
    * size, no token shuffle), where exact countDistinct reshuffles the
    * whole token stream. Engine-specific sketch ⇒ rows-only oracle
    * (same standing as q32's approx quantiles); the error bound vs the
    * exact count is asserted in DedupAndTextSpec.
    */
  def approxDistinctTokens(docs: DataFrame, rsd: Double = 0.02): DataFrame =
    docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"))
      .agg(approx_count_distinct(col("tok"), rsd).as("approx_distinct_tokens"),
        count(lit(1)).as("n_tokens"))
      .orderBy("source")

  /** Normalized content fingerprint (lower + whitespace-collapse + md5)
    * aggregated per source: duplicate-rate profiling.
    */
  def fingerprintBySource(docs: DataFrame): DataFrame = {
    val fp = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
    docs.select(col("source"), fp.as("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           countDistinct(col("fp")).as("n_unique"))
      .orderBy("source")
  }

  // ---- DuckDB oracle generators (same constants as the Column forms) ----

  // Lambda-free SQL (DuckDB's `->` lambda syntax is deprecated in newer
  // versions; unnest-based long form is stable across all of them).

  private def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  def qualityOracle: String = {
    import graft.functions.DetAgg.ratioSql
    s"""WITH d AS (SELECT doc_id, text, n_chars, string_split(text, ' ') AS tk
       |           FROM documents),
       |t AS (SELECT doc_id, unnest(tk) AS tok FROM d),
       |ag AS (
       |  SELECT doc_id, count(*) AS n_tokens, sum(len(tok)) AS sum_len,
       |    sum(CASE WHEN tok IN ${inList(EnStop)} THEN 1 ELSE 0 END) AS stops,
       |    count(DISTINCT tok) AS uniq
       |  FROM t GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(ag.n_tokens AS BIGINT) AS n_tokens,
       |  ${ratioSql("ag.sum_len", "ag.n_tokens")} AS avg_token_len,
       |  ${ratioSql("ag.stops", "ag.n_tokens")} AS stop_ratio,
       |  ${ratioSql("ag.uniq", "ag.n_tokens")} AS uniq_ratio,
       |  ${ratioSql("length(regexp_replace(d.text, '[^.,!?;:]', '', 'g'))", "d.n_chars")} AS punct_ratio
       |FROM d JOIN ag USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  def langIdOracle: String = {
    val scoreCols = LangMarkers.map { case (l, ws) =>
      s"sum(CASE WHEN tok IN ${inList(ws)} THEN 1 ELSE 0 END) AS s_$l"
    }.mkString(",\n    ")
    val m = LangMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val cases = LangMarkers
      .map { case (l, _) => s"WHEN s_$l = m THEN '$l'" }.mkString(" ")
    s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS tk
       |           FROM documents),
       |t AS (SELECT doc_id, unnest(tk) AS tok FROM d),
       |sc AS (
       |  SELECT doc_id,
       |    $scoreCols
       |  FROM t GROUP BY 1)
       |SELECT d.doc_id, d.lang,
       |  CASE WHEN m = 0 THEN 'unknown' $cases ELSE 'unknown' END AS pred_lang
       |FROM (SELECT doc_id, $m AS m, s_de, s_en, s_es, s_fr, s_zh FROM sc) j
       |JOIN d USING (doc_id) ORDER BY d.doc_id""".stripMargin
  }

  def tokenTopKOracle(k: Int = 20): String =
    s"""SELECT token, count(*) AS n FROM (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
       |GROUP BY 1 ORDER BY n DESC, token LIMIT $k""".stripMargin

  def fingerprintBySourceOracle: String =
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_unique
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Ranked boolean retrieval — the search-serving baseline a corpus
    * engine owes its users: documents containing ALL query terms (AND
    * semantics), ranked by summed linear tf-idf. The per-term score is
    * `tf·N·10⁴ DIV df` — [[salientTerms]]'s ln-free linear idf, here
    * floor-scaled to integer 1e-4 units so the SUM across query terms
    * stays pure BIGINT arithmetic (a sum of per-term rounded DOUBLES
    * would depend on partial-agg fold order; integers cannot).
    *
    * Scale shape: the term filter lands right after the token Generate,
    * so only query-term postings (a |terms|-bounded sliver of the token
    * stream) ever aggregate or shuffle; df and N are broadcast one-row/
    * |terms|-row frames. This form re-scans the corpus per query — the
    * serving layout at 100 TB is the same tf frame PREBUILT and
    * bucketed by term (the inverted index), which this query's plan
    * reads unchanged.
    */
  def rankedRetrieval(docs: DataFrame, terms: Seq[String],
                      k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val qTerms = terms.distinct
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .where(col("term").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), expr("tf * n_docs * 10000L DIV df").as("sc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"), sum(col("sc")).as("score"))
      .where(col("n_matched") === qTerms.size.toLong)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_matched"), col("score"))
  }

  /** Oracle SQL twin of [[rankedRetrieval]]. */
  def rankedRetrievalOracle(terms: Seq[String], k: Int = 10): String = {
    val qTerms = terms.distinct
    val inList = qTerms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN $inList GROUP BY 1, 2
       |), dfreq AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY 1
       |), n AS (SELECT count(*) AS n_docs FROM documents),
       |sc AS (
       |  SELECT doc_id, (tf * n_docs * 10000) // df AS sc
       |  FROM tf JOIN dfreq USING (term), n
       |), g AS (
       |  SELECT doc_id, count(*) AS n_matched,
       |    CAST(sum(sc) AS BIGINT) AS score
       |  FROM sc GROUP BY 1
       |)
       |SELECT doc_id, n_matched, score FROM g
       |WHERE n_matched = ${qTerms.size}
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** BM25 ranked retrieval (Robertson/Spärck Jones, k1 = 1.2,
    * b = 0.75) — [[rankedRetrieval]]'s serving-grade sibling with
    * document-length normalization and tf saturation, re-derived in
    * PURE INTEGER arithmetic so the per-doc score sum is
    * fold-order-independent across engines:
    *
    *   - `r`      = dl/avgdl in 1e-3 units: `(dl·N·1000) DIV totTok`
    *     (avgdl's division is deferred — never a float);
    *   - `denom`  = (tf + k1·(1−b) + k1·b·dl/avgdl) in 1e-3 units:
    *     `1000·tf + 300 + (9·r) DIV 10` (k1(1−b) = 0.3, k1·b = 0.9);
    *   - `tpart`  = tf·(k1+1)/denom in 1e-3 units:
    *     `(2200·tf·1000) DIV denom` — bounded by 2200, so the idf
    *     product below can never overflow;
    *   - `idfs`   = the BM25 idf rational `(N−df+½)/(df+½)` with the
    *     (monotone) log dropped and floor-scaled to 1e-4 units:
    *     `((2N−2df+1)·10000) DIV (2df+1)` — dropping log changes
    *     absolute scores, not single-term monotonicity; documented as
    *     this engine's scoring convention (same stance as q98's
    *     linear idf).
    *
    * score = Σ_t idfs·tpart over the AND-matched query terms. Every
    * intermediate is a BIGINT with stated bounds: the largest product
    * is `2200·tf·1000 ≤ 2.2e6·dl`, and `dl·N·1000 ≤ 1000·totTok·N`,
    * so the formulation survives corpus growth until `N·totTok·1000`
    * itself approaches 2⁶³ — at which point quantize `r` from a
    * pre-aggregated avgdl instead.
    *
    * Scale shape: identical to [[rankedRetrieval]] — the term filter
    * runs on the token ARRAY before the explode, so only query-term
    * postings shuffle, and `dl` rides the same row (no join back to a
    * doc-length frame); df and the (N, totTok) scalar are broadcast.
    */
  def bm25Retrieval(docs: DataFrame, terms: Seq[String],
                    k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val qTerms = terms.distinct
    val toks = tokens(col("text"))
    val tf = docs
      .select(col("doc_id"), size(toks).cast("long").as("dl"),
        explode(filter(toks, t => t.isin(qTerms: _*))).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text"))).cast("long")).as("tot_tok"))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), expr(Bm25ScoreExpr).as("sc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"), sum(col("sc")).as("score"))
      .where(col("n_matched") === qTerms.size.toLong)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_matched"), col("score"))
  }

  /** Oracle SQL twin of [[bm25Retrieval]] — same integer formula,
    * DuckDB `//` floor division (all operands non-negative, so Spark
    * `DIV` agrees).
    */
  def bm25RetrievalOracle(terms: Seq[String], k: Int = 10): String = {
    val qTerms = terms.distinct
    val inList = qTerms.map(t => s"'$t'").mkString("(", ", ", ")")
    s"""WITH tok AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    unnest(string_split(text, ' ')) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf FROM tok
       |  WHERE term IN $inList GROUP BY 1, 2, 3
       |), dfreq AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY 1
       |), corpus AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tot_tok
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, $Bm25ScoreSql AS sc
       |  FROM tf JOIN dfreq USING (term), corpus
       |), g AS (
       |  SELECT doc_id, count(*) AS n_matched,
       |    CAST(sum(sc) AS BIGINT) AS score
       |  FROM sc GROUP BY 1
       |)
       |SELECT doc_id, n_matched, score FROM g
       |WHERE n_matched = ${qTerms.size}
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** q241: pseudo-relevance-feedback (Rocchio-style) query expansion —
    * the classic two-stage retrieval that lifts recall when the
    * original query undersamples the topic's vocabulary: stage 1 runs
    * the seed query ([[rankedRetrieval]]'s AND semantics) and takes the
    * top `fb` documents as the feedback set; the top `expand` non-seed
    * terms by summed tf-idf INSIDE that set become expansion terms;
    * stage 2 re-retrieves with OR semantics over seed ∪ expansion,
    * ranked by the same integer score. Every ranking is the linear
    * integer tf-idf (`tf·N·10⁴ DIV df` — the q98 convention), so both
    * stages and the expansion choice are fold-order-proof and the whole
    * pipeline hash-gates.
    *
    * Scale shape: ONE token scan builds the (doc, term) tf frame (the
    * q224 index shape — a serving deployment reads the prebuilt index
    * instead); df and N broadcast. The feedback set is `fb` rows and
    * the expansion set `expand` rows — both broadcast-sized by
    * construction, so stage 2 is one more broadcast-filtered pass over
    * the same tf frame, never a corpus rescan per term.
    */
  def prfExpandedRetrieval(docs: DataFrame, terms: Seq[String],
                           fb: Int = 5, expand: Int = 3,
                           k: Int = 10): DataFrame = {
    require(terms.nonEmpty, "need at least one seed term")
    val spark = docs.sparkSession
    import spark.implicits._
    val qTerms = terms.distinct
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("sc", expr("tf * n_docs * 10000L DIV df"))
    val seed = scored.where(col("term").isin(qTerms: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nm"), sum(col("sc")).as("s0"))
      .where(col("nm") === qTerms.size.toLong)
      .orderBy(col("s0").desc, col("doc_id")).limit(fb)
      .select(col("doc_id"))
    val expTerms = scored.join(broadcast(seed), Seq("doc_id"))
      .where(!col("term").isin(qTerms: _*))
      .groupBy(col("term")).agg(sum(col("sc")).as("esc"))
      .orderBy(col("esc").desc, col("term")).limit(expand)
      .select(col("term"))
    val allTerms = expTerms.unionByName(qTerms.toDF("term"))
    scored.join(broadcast(allTerms), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"), sum(col("sc")).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("n_matched"), col("score"))
  }

  /** Oracle SQL twin of [[prfExpandedRetrieval]] — the same two
    * stages as chained CTEs. */
  def prfExpandedRetrievalOracle(terms: Seq[String], fb: Int = 5,
                                 expand: Int = 3, k: Int = 10): String = {
    val qTerms = terms.distinct
    val inList = qTerms.map(t => s"'$t'").mkString("(", ", ", ")")
    val seedVals = qTerms.map(t => s"('$t')").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
       |), dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |sc AS (
       |  SELECT doc_id, term, (tf * n_docs * 10000) // df AS sc
       |  FROM tf JOIN dfreq USING (term), n
       |), seed AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, count(*) AS nm, CAST(sum(sc) AS BIGINT) AS s0
       |    FROM sc WHERE term IN $inList GROUP BY 1) g
       |  WHERE nm = ${qTerms.size} ORDER BY s0 DESC, doc_id LIMIT $fb
       |), ex AS (
       |  SELECT term FROM (
       |    SELECT s.term, CAST(sum(s.sc) AS BIGINT) AS esc
       |    FROM sc s JOIN seed USING (doc_id)
       |    WHERE s.term NOT IN $inList GROUP BY 1) e
       |  ORDER BY esc DESC, term LIMIT $expand
       |), qt AS (
       |  SELECT term FROM ex
       |  UNION ALL SELECT * FROM (VALUES $seedVals) v(term)
       |)
       |SELECT doc_id, count(*) AS n_matched,
       |  CAST(sum(sc) AS BIGINT) AS score
       |FROM sc JOIN qt USING (term)
       |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** The all-integer BM25 term score (k1 = 1.2, b = 0.75 folded into
    * one rational denominator; Robertson idf with the +0.5s cleared by
    * doubling) — ONE definition shared by [[bm25Retrieval]],
    * [[bm25TermIndex]], and [[termIndexServe]]; `Bm25ScoreSql` is its
    * DuckDB twin (`//` floor ≡ `DIV`, all operands non-negative).
    * Expects columns n_docs, df, tf, dl, tot_tok in scope.
    */
  private val Bm25ScoreExpr: String =
    "((2*n_docs - 2*df + 1) * 10000L DIV (2*df + 1)) * " +
      "(2200L * tf * 1000 DIV (1000*tf + 300 + " +
      "(9 * (dl * n_docs * 1000 DIV tot_tok)) DIV 10))"
  private val Bm25ScoreSql: String =
    "((2*n_docs - 2*df + 1) * 10000 // (2*df + 1)) * " +
      "(2200 * tf * 1000 // (1000*tf + 300 + " +
      "(9 * (dl * n_docs * 1000 // tot_tok)) // 10))"

  /** Per-(term, doc) BM25 scores over the WHOLE vocabulary — the
    * materialization pass behind [[bm25TermIndex]] and
    * [[termIndexServe]] (one definition of tf/df/corpus stats).
    */
  private def bm25TermScores(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val tf = docs
      .select(col("doc_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text"))).cast("long")).as("tot_tok"))
    // document-frequency table is vocab-sized — broadcastable far past
    // this corpus (10M terms ≈ a few hundred MB would switch this to a
    // shuffle join; the cap convention of tokenCommonness applies)
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(corpus))
      .select(col("term"), col("doc_id"), expr(Bm25ScoreExpr).as("sc"))
  }

  /** Static inverted-index build — for EVERY vocabulary term, the
    * top-k documents by the single-term BM25 score (ties → doc_id):
    * the precomputed posting heads a retrieval serving tier answers
    * single-term queries from without touching the corpus. [[bm25Retrieval]]
    * is the multi-term online form; this is its offline index twin.
    *
    * Scale shape: one token-stream aggregate for tf, a vocab-sized
    * broadcast for df, then ONE term-keyed rank window over the
    * posting rows — output is |vocab|·k, corpus-size-independent.
    */
  def bm25TermIndex(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("term"))
      .orderBy(col("sc").desc, col("doc_id"))
    bm25TermScores(docs)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("term"), col("rank"), col("doc_id"), col("sc").as("score"))
      .orderBy("term", "rank")
  }

  /** Write-once layout of [[bm25TermIndex]]'s posting heads — the
    * q18/exactTopKTable stance for the text tier: the static inverted
    * index IS an ingest artifact (the Scaladoc above already calls it
    * the offline build), so the corpus-sized token aggregate + full
    * term-keyed rank window run once per input and q224 serves the
    * |vocab|·k result read-only. The oracle re-derives the index from
    * raw text, so the layout stays hash-checked at the gate.
    */
  def bm25TermIndexTable(docs: DataFrame, warehouse: String,
                         k: Int = 3,
                         inputTag: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    val t = s"g_bm25_idx_k$k${BucketedOps.tagOf(inputTag)}"
    BucketedOps.writeOnce(spark, t, inputTag.isDefined) {
      bm25TermIndex(docs, k)
        .write.mode("overwrite").option("path", s"$warehouse/$t")
        .format("parquet").saveAsTable(t)
    }
    spark.table(t)
  }

  /** The shared tf/df/score CTE chain of the index oracles. */
  private def bm25IndexCtes: String =
    s"""tok AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    unnest(string_split(text, ' ')) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, dl, term, count(*) AS tf FROM tok GROUP BY 1, 2, 3
       |), dfreq AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY 1
       |), corpus AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tot_tok
       |  FROM documents),
       |sc AS (
       |  SELECT term, doc_id, $Bm25ScoreSql AS sc
       |  FROM tf JOIN dfreq USING (term), corpus
       |), rk AS (
       |  SELECT term, doc_id, sc,
       |    row_number() OVER (PARTITION BY term
       |      ORDER BY sc DESC, doc_id) AS rank
       |  FROM sc
       |)""".stripMargin

  /** Oracle SQL twin of [[bm25TermIndex]]. */
  def bm25TermIndexOracle(k: Int = 3): String =
    s"""WITH $bm25IndexCtes
       |SELECT term, CAST(rank AS BIGINT) AS rank, doc_id,
       |  CAST(sc AS BIGINT) AS score
       |FROM rk WHERE rank <= $k ORDER BY term, rank""".stripMargin

  /** Partition-pruned term-index SERVING — the q92 write-once layout
    * precedent applied to text retrieval: the per-(term, doc) score
    * table is written ONCE hive-partitioned by term, and a single-term
    * query reads ONLY that term's directory (PartitionFilters, plan-
    * asserted in spec) and ranks its posting list. The oracle
    * re-derives the same rows from the corpus independently, so the
    * layout cannot silently change a value.
    */
  def termIndexServe(docs: DataFrame, warehouse: String,
                     term: String = "data", k: Int = 3,
                     inputTag: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    val table = s"g_term_idx${BucketedOps.tagOf(inputTag)}"
    BucketedOps.writeOnce(spark, table, inputTag.isDefined) {
      BucketedOps.writePartitioned(bm25TermScores(docs), table, "term",
        warehouse)
    }
    prunedTermScan(spark, table, term)
      .orderBy(col("sc").desc, col("doc_id"))
      .limit(k)
      .select(lit(term).as("term"), col("doc_id"), col("sc").as("score"))
  }

  /** The pruned term scan (exposed for the plan assertion). */
  def prunedTermScan(spark: org.apache.spark.sql.SparkSession, table: String,
                     term: String): DataFrame =
    spark.table(table).where(col("term") === term)

  /** Oracle SQL twin of [[termIndexServe]] — the independent corpus
    * derivation restricted to the served term.
    */
  def termIndexServeOracle(term: String = "data", k: Int = 3): String =
    s"""WITH $bm25IndexCtes
       |SELECT term, doc_id, CAST(sc AS BIGINT) AS score
       |FROM rk WHERE term = '$term' AND rank <= $k
       |ORDER BY rank""".stripMargin

  /** Per-source Gini coefficient of document token counts — the
    * corpus-skew audit ("is source X a few giant documents or many
    * uniform ones?") that decides chunking and sampling policy. Uses
    * the rank formulation G = (2·Σᵢ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over
    * ascending (tokens, doc_id) ranks — every term an exact BIGINT, the
    * final division one [[graft.functions.DetAgg]] half-up (6 dp), so
    * the coefficient is engine-exact. Negative is impossible (rank
    * form is ≥ 0 for non-negative x), so no sign-safety caveats.
    *
    * Scale shape: one per-source window for ranks, one per-source
    * aggregate — no global ordering anywhere; a source's documents
    * sort within its own partition (the q65 rank discipline).
    */
  def sourceGini(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.DetAgg
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_tokens"), col("doc_id"))
    docs
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("total_tokens"),
           sum(col("i") * col("n_tokens")).as("ix"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        (DetAgg.halfUpDiv(
          (lit(2L) * col("ix") - (col("n_docs") + 1L) * col("total_tokens"))
            * 1000000L,
          col("n_docs") * col("total_tokens"))
          .cast("double") / 1000000.0).as("gini"))
      .orderBy("source")
  }

  /** Oracle SQL twin of [[sourceGini]]. */
  def sourceGiniOracle: String = {
    import graft.functions.DetAgg
    s"""WITH d AS (
       |  SELECT source, doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), r AS (
       |  SELECT source, n_tokens,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY n_tokens, doc_id) AS BIGINT) AS i
       |  FROM d
       |), g AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(sum(i * n_tokens) AS BIGINT) AS ix
       |  FROM r GROUP BY 1
       |)
       |SELECT source, n_docs, total_tokens,
       |  CAST(${DetAgg.halfUpDivSql(
                  "(2 * ix - (n_docs + 1) * total_tokens) * 1000000",
                  "n_docs * total_tokens")} AS DOUBLE) / 1000000.0 AS gini
       |FROM g ORDER BY source""".stripMargin
  }

  /** BPE merge training, `k` supersteps — the tokenizer-TRAINING loop
    * (the operators downstream of a trained tokenizer — counting,
    * masking, packing — are q25/q77/q74): build the word-frequency
    * table once, space out each word into characters, then repeatedly
    * (1) count adjacent symbol pairs weighted by word frequency,
    * (2) pick the most frequent pair (ties: lexicographic — the
    * deterministic dial), (3) fuse that pair everywhere. Output: one
    * row per merge with the fused token and its winning pair count —
    * the ordered merge list IS the trained tokenizer.
    *
    * Merge application is defined OPERATIONALLY as two passes of
    * space-delimited leftmost non-overlapping `replace` on the
    * sentinel-padded symbol string — both engines run the byte-same
    * procedure, so parity is by construction. The second pass exists
    * because pass one consumes the boundary space of each match and so
    * skips immediately-adjacent repeats; for SELF-adjacent runs of odd
    * length (`l l l`) even two passes fuse left-to-right pairs only
    * partially differently than canonical greedy BPE would — a
    * documented deviation that affects which WORDS a merge rewrites,
    * never which merge wins here (pair selection runs before any
    * rewrite of the round).
    *
    * Scale shape: everything per-word row-local except one
    * |pairs|-keyed rollup per round; the 1-row winner broadcasts back.
    * Winner and vocab frames persist EAGERLY per round (the kCore
    * lineage rule — each is referenced twice downstream).
    */
  def bpeMerges(docs: DataFrame, k: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (merges, words) = bpeTrain(docs, k)
    // the merge list is already a driver-side Seq; the final vocab
    // frame is unused here — release its cache (r16 lifecycle rule)
    words.unpersist()
    merges.toDF("iter", "merged", "pair_count")
      .orderBy("iter")
  }

  /** Shared BPE training loop — the ordered merge list plus the FINAL
    * spaced vocabulary `(word, sp, freq)`. [[bpeMerges]] (q119)
    * projects the merges; [[bpeApplyStats]] (q195) joins the vocab back
    * onto the corpus. The original word rides along through the rewrite
    * rounds (row-local selects — costs nothing) so application needs no
    * re-derivation of the spacing.
    */
  private def bpeTrain(docs: DataFrame,
                       k: Int): (Seq[(Long, String, Long)], DataFrame) = {
    require(k >= 1 && k <= 10, s"bpe: k=$k out of range")
    val words0 = docs
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"),
        trim(regexp_replace(col("word"), "(.)", "$1 ")).as("sp"),
        col("freq"))
    var words = words0.persist(); words.count()
    // Each round's best pair is collected to the driver (ONE row, the
    // [[KMeansOp]] k-sized-collect stance) and re-applied as string
    // LITERALS. The earlier frame-join formulation kept `best` as a
    // broadcast frame, so round i's ANALYZED plan referenced round
    // i−1's twice (rewrite + pair count) — the per-round persists
    // collapsed execution but not analysis, and Catalyst re-analyzed a
    // 2^k-node tree per action: measured 2.2 s at k=3 but 37 s at
    // k=6. With the literal rewrite each round is a flat select over
    // the cached vocab — planning stays O(k), execution was always
    // trivial.
    val merges = Seq.newBuilder[(Long, String, Long)]
    for (i <- 1 to k) {
      val pairs = words
        .where(size(split(col("sp"), " ")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(split(sp, ' ')) - 1), " +
            "j -> concat(element_at(split(sp, ' '), j), ' ', " +
            "element_at(split(sp, ' '), j + 1)))")).as("pair"))
      val best = pairs.groupBy(col("pair"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("pair")).limit(1).collect()
      if (best.nonEmpty) {
        val pair = best(0).getString(0)
        val merged = pair.replace(" ", "")
        merges += ((i.toLong, merged, best(0).getLong(1)))
        // identical two-pass space-delimited replace as the oracle
        val pat = lit(s" $pair ")
        val rep = lit(s" $merged ")
        val one = call_function("replace",
          concat(lit(" "), col("sp"), lit(" ")), pat, rep)
        val prev = words
        words = words
          .select(col("word"),
            trim(call_function("replace", one, pat, rep)).as("sp"),
            col("freq"))
          .persist()
        words.count()
        prev.unpersist()
      }
    }
    (merges.result(), words)
  }

  /** Tokenizer APPLICATION — run the `k` learned merges back over the
    * corpus and report per-source tokenization stats (the question a
    * data pipeline actually asks of a tokenizer: how many tokens does
    * this slice cost, and how well does the vocab compress it). Join is
    * word→final-symbol-count over the broadcast distinct-word vocab, so
    * application is one narrow pass over the token stream — the
    * training loop's per-word rewrite is never repeated per occurrence.
    */
  def bpeApplyStats(docs: DataFrame, k: Int = 6): DataFrame = {
    val (_, words) = bpeTrain(docs, k)
    val out = applyVocabStats(docs, words)
    // pin the (per-source) stats, release the trained-vocab cache
    try out.localCheckpoint() finally { words.unpersist(); () }
  }

  /** Shared application body — per-source tokenization stats from the
    * corpus and a trained `(word, sp, freq)` vocabulary frame, whether
    * that frame comes fresh from [[bpeTrain]] or read back from the
    * write-once layout ([[bpeVocabTables]]).
    */
  private def applyVocabStats(docs: DataFrame,
                              vocabSp: DataFrame): DataFrame = {
    import graft.functions.DetAgg
    val vocab = vocabSp
      .select(col("word"),
        size(split(col("sp"), " ")).cast("long").as("nt"))
    docs.select(col("source"), explode(tokens(col("text"))).as("word"))
      .join(broadcast(vocab), Seq("word"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("nt")).as("n_tokens"))
      .withColumn("tokens_per_word",
        DetAgg.ratio(col("n_tokens"), col("n_words")))
      .withColumn("chars_per_token",
        DetAgg.ratio(col("n_chars"), col("n_tokens")))
      .orderBy("source")
  }

  /** Write-once layout of the BPE TRAINING outputs — the
    * [[bm25TermIndexTable]] stance applied to the tokenizer: training
    * is genuinely an offline job (k full-corpus pair-count rounds), so
    * it runs ONCE per input in the ingest pass (`SparkEntry
    * .warmLayouts`) and the trained artifacts are written as two
    * tables: the ordered merge list `(iter, merged, pair_count)` —
    * k rows, the tokenizer itself — and the final spaced vocabulary
    * `(word, sp, freq)` — |vocab| rows, what application joins
    * against. q119 serves a projection of the first; q195 a broadcast
    * join over the second. Both consumers' oracles re-derive training
    * from RAW text (`bpeMergesOracle`/`bpeApplyOracle`), so a stale or
    * wrong layout hash-mismatches at the gate. One guard covers both
    * tables: if EITHER is missing the loop retrains and rewrites both,
    * so a partially-written pair can never serve.
    */
  def bpeVocabTables(docs: DataFrame, warehouse: String, k: Int = 6,
                     inputTag: Option[String] = None)
      : (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val tag = BucketedOps.tagOf(inputTag)
    val mT = s"g_bpe_merges_k$k$tag"
    val vT = s"g_bpe_vocab_k$k$tag"
    val tagged = inputTag.isDefined
    if (!tagged || !spark.catalog.tableExists(mT) ||
        !spark.catalog.tableExists(vT)) {
      import spark.implicits._
      val (merges, vocab) = bpeTrain(docs, k)
      merges.toDF("iter", "merged", "pair_count").coalesce(1)
        .write.mode("overwrite").option("path", s"$warehouse/$mT")
        .format("parquet").saveAsTable(mT)
      try vocab
        .write.mode("overwrite").option("path", s"$warehouse/$vT")
        .format("parquet").saveAsTable(vT)
      // the table write materialized the vocab to disk; drop its cache
      finally { vocab.unpersist(); () }
    }
    (spark.table(mT), spark.table(vT))
  }

  /** q119 serving form of [[bpeMerges]] — projects the merge list off
    * the write-once layout; the timed query is a k-row read.
    */
  def bpeMergesServed(docs: DataFrame, warehouse: String, k: Int = 6,
                      inputTag: Option[String] = None): DataFrame =
    bpeVocabTables(docs, warehouse, k, inputTag)._1
      .select(col("iter"), col("merged"), col("pair_count"))
      .orderBy("iter")

  /** q195 serving form of [[bpeApplyStats]] — the same one-pass
    * broadcast word→symbol-count join, with the vocabulary read from
    * the write-once layout instead of retrained per call.
    */
  def bpeApplyStatsServed(docs: DataFrame, warehouse: String,
                          k: Int = 6,
                          inputTag: Option[String] = None): DataFrame =
    applyVocabStats(docs, bpeVocabTables(docs, warehouse, k, inputTag)._2)

  /** Oracle SQL twin of [[bpeMerges]] — the rounds unrolled as chained
    * CTEs running the identical pair count, tie rule, and two-pass
    * replace.
    */
  def bpeMergesOracle(k: Int = 3): String = {
    val out = (1 to k).map { i =>
      s"""SELECT $i AS iter, replace(pair, ' ', '') AS merged,
         |  c AS pair_count FROM b$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeCtes(k)}
       |SELECT * FROM (
       |$out
       |) r ORDER BY iter""".stripMargin
  }

  /** Shared unrolled-BPE CTE prefix (`w0/s0/a_i/p_i/c_i/b_i/s_i`) —
    * one definition for the training oracle ([[bpeMergesOracle]]) and
    * the application oracle ([[bpeApplyOracle]]) so the pair count,
    * tie rule, and two-pass replace can never drift between them. Each
    * vocab round `s_i` is MATERIALIZED: it is referenced twice per
    * round (pair count + rewrite), so DuckDB's CTE inlining would
    * otherwise expand 2^k copies of the scan (the mmr-oracle lesson).
    * A round whose pair table is EMPTY (merges exhausted before k)
    * carries the vocabulary through unchanged via LEFT JOIN + CASE — a
    * plain cross join would wipe it, silently emptying
    * [[bpeApplyOracle]] while the Spark side (bpeTrain's nonEmpty
    * guard) kept the last vocab.
    */
  private def bpeCtes(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""a$i AS (SELECT sp, freq, string_split(sp, ' ') AS a
         |        FROM s${i - 1}),
         |p$i AS (
         |  SELECT list_extract(a, j) || ' ' || list_extract(a, j + 1) AS pair,
         |    freq
         |  FROM a$i, generate_series(1, 256) g(j)
         |  WHERE j <= len(a) - 1
         |), c$i AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS c FROM p$i GROUP BY 1
         |), b$i AS (SELECT pair, c FROM c$i ORDER BY c DESC, pair LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT word,
         |    CASE WHEN b$i.pair IS NULL THEN sp
         |      ELSE trim(replace(replace(' ' || sp || ' ',
         |        ' ' || b$i.pair || ' ',
         |        ' ' || replace(b$i.pair, ' ', '') || ' '),
         |        ' ' || b$i.pair || ' ',
         |        ' ' || replace(b$i.pair, ' ', '') || ' '))
         |    END AS sp, freq
         |  FROM s${i - 1} LEFT JOIN b$i ON TRUE
         |)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
       |  GROUP BY 1
       |), s0 AS (
       |  SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sp,
       |    freq
       |  FROM w0
       |),
       |$rounds""".stripMargin
  }

  /** Oracle SQL twin of [[bpeApplyStats]] — the shared training CTEs,
    * then the token stream joined to the final vocab's symbol counts.
    */
  def bpeApplyOracle(k: Int = 6): String = {
    import graft.functions.DetAgg
    s"""WITH ${bpeCtes(k)},
       |v AS (SELECT word,
       |        CAST(len(string_split(sp, ' ')) AS BIGINT) AS nt
       |      FROM s$k),
       |t AS (SELECT source, unnest(string_split(text, ' ')) AS word
       |      FROM documents)
       |SELECT t.source, count(*) AS n_words,
       |  CAST(sum(len(t.word)) AS BIGINT) AS n_chars,
       |  CAST(sum(v.nt) AS BIGINT) AS n_tokens,
       |  ${DetAgg.ratioSql("sum(v.nt)", "count(*)")} AS tokens_per_word,
       |  ${DetAgg.ratioSql("sum(len(t.word))", "sum(v.nt)")}
       |    AS chars_per_token
       |FROM t JOIN v USING (word) GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Minimum vocabulary size for declared token-coverage thresholds —
    * the tokenizer-sizing question ("how many types cover 95 % of all
    * occurrences?") answered EXACTLY without ranking the vocabulary:
    * tokens are rolled up into count-of-counts classes (every type
    * with the same frequency is interchangeable for coverage), so the
    * only ordered frame is |distinct frequencies| — a few thousand
    * rows even at 100 TB, where a per-type rank window would serialize
    * hundreds of millions of types through one task. The boundary
    * class's minimal prefix is a ceiling division; all arithmetic is
    * integer (need = ceil(pct·total/100)), so the answer is
    * engine-exact. Output: one row per threshold with the vocab size,
    * the occurrences that vocab covers, and the corpus total.
    */
  def vocabCoverage(docs: DataFrame,
                    thresholds: Seq[Int] = Seq(50, 90, 95, 99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(thresholds.nonEmpty && thresholds.forall(t => t >= 1 && t <= 100),
      s"thresholds must be percents in [1,100], got $thresholds")
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
    val classes = counts.groupBy(col("c"))
      .agg(count(lit(1)).as("ntok"))
      .select(col("c"), col("ntok"), (col("c") * col("ntok")).as("toks"))
    // |classes| is tiny (distinct frequency values), so the global
    // window and the scalar cross join are both cheap by construction.
    val w = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = classes.agg(sum(col("toks")).as("total_tokens"))
    classes
      .withColumn("cum_toks", sum(col("toks")).over(w))
      .withColumn("cum_ntok", sum(col("ntok")).over(w))
      .crossJoin(broadcast(total))
      .withColumn("pct",
        explode(array(thresholds.map(t => lit(t.toLong)): _*)))
      .withColumn("need", expr("(total_tokens * pct + 99L) DIV 100L"))
      .where(col("cum_toks") >= col("need") &&
        col("cum_toks") - col("toks") < col("need"))
      .select(col("pct"),
        (col("cum_ntok") - col("ntok") +
          expr("(need - (cum_toks - toks) + c - 1L) DIV c")).as("vocab_size"),
        (col("cum_toks") - col("toks") +
          expr("((need - (cum_toks - toks) + c - 1L) DIV c) * c"))
          .as("covered_tokens"),
        col("total_tokens"))
      .orderBy("pct")
  }

  /** Oracle SQL twin of [[vocabCoverage]] (products BIGINT-first). */
  def vocabCoverageOracle(thresholds: Seq[Int] = Seq(50, 90, 95, 99)): String = {
    val vals = thresholds.map(t => s"($t)").mkString(", ")
    s"""WITH tc AS (
       |  SELECT token, count(*) AS c FROM (
       |    SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
       |  GROUP BY 1
       |), cc AS (
       |  SELECT c, count(*) AS ntok, CAST(c * count(*) AS BIGINT) AS toks
       |  FROM tc GROUP BY 1
       |), cum AS (
       |  SELECT c, ntok, toks,
       |    CAST(sum(toks) OVER (ORDER BY c DESC) AS BIGINT) AS cum_toks,
       |    CAST(sum(ntok) OVER (ORDER BY c DESC) AS BIGINT) AS cum_ntok
       |  FROM cc
       |), tot AS (SELECT CAST(sum(toks) AS BIGINT) AS total_tokens FROM cc),
       |th(pct) AS (VALUES $vals)
       |SELECT CAST(pct AS BIGINT) AS pct,
       |  cum_ntok - ntok + (need - (cum_toks - toks) + c - 1) // c AS vocab_size,
       |  cum_toks - toks + ((need - (cum_toks - toks) + c - 1) // c) * c
       |    AS covered_tokens,
       |  total_tokens
       |FROM (
       |  SELECT cum.*, total_tokens,
       |    (total_tokens * CAST(pct AS BIGINT) + 99) // 100 AS need, pct
       |  FROM cum, tot, th) b
       |WHERE cum_toks >= need AND cum_toks - toks < need
       |ORDER BY pct""".stripMargin
  }

  /** Top-k collocations by PMI — adjacent token pairs that co-occur far
    * more than their unigram frequencies predict (the phrase-mining /
    * tokenizer-merge-candidate primitive). Since the corpus-size terms
    * of PMI = log(p(xy)/(p(x)p(y))) are constant across pairs, ranking
    * by c_xy/(c_x·c_y) IS the PMI ranking, computed here as the exact
    * integer `c_xy·10¹² // (c_x·c_y)` — no floats, no cross-engine log
    * drift. `minCount` is the standard PMI low-frequency guard (a
    * hapax pair has spuriously maximal PMI).
    *
    * Scale shape: bigram counts via the codegen'd [[shingles]] explode
    * + one map-side-combined groupBy; the two unigram-count joins are
    * token-keyed shuffles of (token, count) pairs (the bigram frame is
    * already collapsed to distinct surviving pairs, so nothing
    * corpus-sized rides the join); top-k is a TakeOrdered, never a
    * global sort. Overflow headroom: c_xy ≤ 2^63/10¹² ≈ 9.2M — at
    * corpus sizes past that, drop the scale to 10⁹ (ranking is
    * unchanged; three digits of tie-resolution lost).
    */
  def pmiTopK(docs: DataFrame, minCount: Long = 5L, k: Int = 50): DataFrame = {
    val bg = docs.select(explode(shingles(tokens(col("text")), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= minCount)
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"), col("c_xy"))
    val uni = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    bg.join(uni.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
      .select(col("w1"), col("w2"), col("c_xy"),
        call_function("div", col("c_xy") * lit(1000000000000L),
          col("c_x") * col("c_y")).as("score_ppt"))
      .orderBy(col("score_ppt").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Oracle SQL twin of [[pmiTopK]] — identical integer score; `//` on
    * positive operands matches Spark's `div` exactly.
    */
  def pmiTopKOracle(minCount: Long = 5L, k: Int = 50): String =
    s"""WITH toks AS (SELECT string_split(text, ' ') AS tk FROM documents),
       |bg AS (
       |  SELECT tk[i] AS w1, tk[i+1] AS w2, count(*) AS c_xy
       |  FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
       |        FROM toks WHERE len(tk) >= 2) t
       |  GROUP BY 1, 2 HAVING count(*) >= $minCount
       |), uni AS (
       |  SELECT tok AS w, count(*) AS c
       |  FROM (SELECT unnest(tk) AS tok FROM toks) t GROUP BY 1
       |)
       |SELECT bg.w1, bg.w2, CAST(bg.c_xy AS BIGINT) AS c_xy,
       |  (CAST(bg.c_xy AS BIGINT) * 1000000000000) // (ux.c * uy.c)
       |    AS score_ppt
       |FROM bg JOIN uni ux ON bg.w1 = ux.w JOIN uni uy ON bg.w2 = uy.w
       |ORDER BY score_ppt DESC, w1, w2 LIMIT $k""".stripMargin

  /** Cross-source vocabulary Jaccard matrix — |V_a ∩ V_b| / |V_a ∪ V_b|
    * for every source pair: the corpus-similarity screen that says
    * which domains share a lexicon (q75's doc-overlap sibling at the
    * VOCABULARY level — near-dup docs are rare across sources, shared
    * vocabulary is not). Exact integer ratio; the intersection comes
    * from one self-join of the (source, token)-distinct frame on the
    * token key — vocab-sized, never the token stream — and the union
    * is |V_a| + |V_b| − |V_a ∩ V_b|, so no second join.
    *
    * Scale shape: one distinct shuffle on (source, token), one
    * token-keyed join whose fan-out is |sources per token| ≤ |sources|,
    * one pair rollup. At 100 TB the distinct frame is vocabulary ×
    * sources — tiny next to the corpus.
    */
  def vocabJaccard(docs: DataFrame): DataFrame = {
    val st = docs.select(col("source"),
        explode(tokens(col("text"))).as("tok")).distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    val inter = st.as("l").join(st.as("r"),
        col("l.tok") === col("r.tok") && col("l.source") < col("r.source"))
      .groupBy(col("l.source").as("src_a"), col("r.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("nv").as("va"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("nv").as("vb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_inter"),
        (col("va") + col("vb") - col("n_inter")).as("n_union"),
        graft.functions.DetAgg.ratio(col("n_inter"),
          col("va") + col("vb") - col("n_inter")).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Oracle SQL twin of [[vocabJaccard]]. */
  def vocabJaccardOracle: String =
    s"""WITH st AS (
       |  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), sz AS (SELECT source, count(*) AS nv FROM st GROUP BY 1),
       |inter AS (
       |  SELECT l.source AS src_a, r.source AS src_b, count(*) AS n_inter
       |  FROM st l JOIN st r ON l.tok = r.tok AND l.source < r.source
       |  GROUP BY 1, 2
       |)
       |SELECT i.src_a, i.src_b, i.n_inter,
       |  (a.nv + b.nv - i.n_inter) AS n_union,
       |  ${graft.functions.DetAgg.ratioSql("i.n_inter",
           "(a.nv + b.nv - i.n_inter)")} AS jaccard
       |FROM inter i
       |JOIN sz a ON i.src_a = a.source JOIN sz b ON i.src_b = b.source
       |ORDER BY i.src_a, i.src_b""".stripMargin

  /** Power-of-two token-length histogram per source — the corpus
    * length-profile every data card reports, with log-spaced buckets
    * computed as a literal boundary CASE chain (exact integers, no
    * float log — the engine-portable spelling of ⌊log₂ n⌋). Bucket b
    * holds docs with 2^b ≤ tokens < 2^(b+1); one map-side-combined
    * rollup.
    */
  def lengthHistogram(docs: DataFrame, maxPow: Int = 12): DataFrame = {
    val n = size(tokens(col("text"))).cast("long")
    // ascending fold so the LARGEST threshold lands outermost — the
    // first-match-wins order the oracle's CASE chain spells explicitly
    val bucket = (1 to maxPow).foldLeft(lit(0L)) { case (acc, p) =>
      when(n >= (1L << p), lit(p.toLong)).otherwise(acc)
    }
    docs.select(col("source"), bucket.as("pow2"), n.as("nt"))
      .groupBy(col("source"), col("pow2"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .orderBy("source", "pow2")
  }

  /** Oracle SQL twin of [[lengthHistogram]]. */
  def lengthHistogramOracle(maxPow: Int = 12): String = {
    val cases = (maxPow to 1 by -1)
      .map(p => s"WHEN nt >= ${1L << p} THEN $p").mkString(" ")
    s"""WITH d AS (
       |  SELECT source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
       |  FROM documents
       |)
       |SELECT source, CAST(CASE $cases ELSE 0 END AS BIGINT) AS pow2,
       |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
       |FROM d GROUP BY 1, 2 ORDER BY source, pow2""".stripMargin
  }

  /** Perm-family offset for the count-min rows — disjoint from the
    * MinHash (0..) and SimHash ([[DedupOp.SimPermOffset]]..) regions. */
  val CmPermOffset = 200

  /** Count-min-sketch heavy hitters with an exact audit column: token
    * frequency estimated from a `depth` × `width` counter sketch
    * (est = min over rows of the hashed cell count — never an
    * underestimate), top-k tokens by estimate, with the TRUE count
    * alongside so the audit sees the overestimate directly. The sketch
    * itself is the 100 TB artifact: `depth·width` integers, built in
    * one map-side-combined pass, MERGEABLE across drops by cell-wise
    * addition (the HLL q57 argument) — while exact counts need a
    * vocabulary-sized shuffle, the sketch never grows. Every cell and
    * estimate is exact integer arithmetic over the portable hash, so
    * unlike q57 the WHOLE operator sits under the cross-engine hash
    * gate (the oracle rebuilds the identical sketch in SQL).
    *
    * The deliberate second scan (sketch pass + audit pass) replaces a
    * token-stream persist: at corpus scale the exploded occurrence
    * stream is far larger than the input and must not be cached; in
    * the sketch-only production form the audit scan disappears.
    */
  private def cmBucketCols(hx: Column, width: Int, depth: Int): Column =
    array((0 until depth).map { r =>
      ((lit(permA(CmPermOffset + r)) * hx + lit(permB(CmPermOffset + r)))
        % lit(HashMod)) % lit(width.toLong)
    }: _*)

  /** The bare `depth` × `width` count-min cell frame (r, bucket, c) —
    * the MERGEABLE sketch artifact itself: sketches of disjoint drops
    * add cell-wise to the sketch of the union (asserted in
    * DedupAndTextSpec), which is what lets 100 TB of partitions
    * sketch independently and combine at negligible cost.
    */
  def countMinCells(docs: DataFrame, width: Int = 1024,
                    depth: Int = 4): DataFrame =
    docs.select(explode(tokens(col("text"))).as("tok"))
      .withColumn("hx", portableHash(col("tok")))
      .select(posexplode(cmBucketCols(col("hx"), width, depth))
        .as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("c"))

  def countMinTopK(docs: DataFrame, width: Int = 1024, depth: Int = 4,
                   k: Int = 20): DataFrame = {
    require(depth >= 1 && depth <= 8 && width >= 16,
      "countMinTopK: sketch dims out of range")
    def bucketCols(hx: Column): Column = cmBucketCols(hx, width, depth)
    val occ = docs.select(explode(tokens(col("text"))).as("tok"))
      .withColumn("hx", portableHash(col("tok")))
    val cells = countMinCells(docs, width, depth)
    val dtok = occ.groupBy(col("tok"), col("hx"))
      .agg(count(lit(1)).as("true_n"))
    dtok
      .select(col("tok"), col("true_n"),
        posexplode(bucketCols(col("hx"))).as(Seq("r", "bucket")))
      .join(broadcast(cells), Seq("r", "bucket"))
      .groupBy(col("tok"), col("true_n")).agg(min(col("c")).as("est"))
      .select(col("tok").as("token"), col("est"), col("true_n"))
      .orderBy(col("est").desc, col("token"))
      .limit(k)
  }

  /** Oracle SQL twin of [[countMinTopK]] — the identical sketch built
    * in SQL. */
  def countMinTopKOracle(width: Int = 1024, depth: Int = 4,
                         k: Int = 20): String = {
    val permRows = (0 until depth)
      .map(r => s"($r, ${permA(CmPermOffset + r)}::BIGINT, " +
        s"${permB(CmPermOffset + r)}::BIGINT)")
      .mkString(", ")
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
       |), thx AS (
       |  SELECT tok, ${portableHashSql("tok")} AS hx FROM toks
       |), rws(r, a, b) AS (VALUES $permRows),
       |cells AS (
       |  SELECT r.r, ((r.a * t.hx + r.b) % $HashMod) % $width AS bucket,
       |    count(*) AS c
       |  FROM thx t CROSS JOIN rws r GROUP BY 1, 2
       |), dtok AS (
       |  SELECT tok, hx, count(*) AS true_n FROM thx GROUP BY 1, 2
       |), est AS (
       |  SELECT d.tok, d.true_n, CAST(min(c.c) AS BIGINT) AS est
       |  FROM dtok d CROSS JOIN rws r
       |  JOIN cells c ON c.r = r.r
       |    AND c.bucket = ((r.a * d.hx + r.b) % $HashMod) % $width
       |  GROUP BY 1, 2
       |)
       |SELECT tok AS token, est, true_n
       |FROM est ORDER BY est DESC, token LIMIT $k""".stripMargin
  }

  /** q150: per-source token diversity via the Gini–Simpson index,
    * EXACT rational arithmetic end to end — the probability two
    * random token draws (without replacement) differ:
    * `1 − Σ nᵢ(nᵢ−1) / (N(N−1))`, reported in half-up 6-decimal units
    * through the same integer path as every [[DetAgg]] ratio. Entropy
    * is the conventional diversity number but needs `log` (libm-
    * dependent, not correctly rounded — the q130 rule); Simpson is the
    * diversity index that happens to be a small-denominator RATIONAL,
    * so the whole audit sits under the cross-engine hash gate with no
    * float anywhere. BIGINT headroom: Σnᵢ(nᵢ−1)·10⁶ overflows past
    * ~3·10⁶ tokens per source — at that size the per-source counts
    * feed the same formula with the scale split (divide first), noted
    * here rather than silently changed.
    *
    * Scale shape: one map-side-combined (source, token) count, one
    * tiny per-source rollup — no distinct-pair expansion, nothing
    * row-local beyond the token explode.
    */
  def simpsonDiversity(docs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.ratio
    docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("ni"))
      .groupBy(col("source"))
      .agg(sum(col("ni")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("ni") * (col("ni") - 1L)).as("same"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        ratio(col("n_tokens") * (col("n_tokens") - 1L) - col("same"),
          col("n_tokens") * (col("n_tokens") - 1L), 6).as("simpson"))
      .orderBy("source")
  }

  /** Oracle SQL twin of [[simpsonDiversity]]. */
  def simpsonDiversityOracle: String =
    s"""WITH t AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), c AS (
       |  SELECT source, tok, count(*) AS ni FROM t GROUP BY 1, 2
       |), s AS (
       |  SELECT source, CAST(sum(ni) AS BIGINT) AS n_tokens,
       |    count(*) AS n_types,
       |    CAST(sum(ni * (ni - 1)) AS BIGINT) AS same
       |  FROM c GROUP BY 1
       |)
       |SELECT source, n_tokens, n_types,
       |  ${graft.functions.DetAgg.ratioSql(
            "(n_tokens * (n_tokens - 1) - same)",
            "(n_tokens * (n_tokens - 1))", 6)} AS simpson
       |FROM s ORDER BY source""".stripMargin

  /** N-gram diversity — the distinct-to-total n-gram ratio per document
    * for n = 1..3, rolled up to a per-source mean. The compression-
    * ratio proxy corpus filters use (low diversity ⇒ templated /
    * machine-generated / looping text) without shipping a codec:
    * distinct n-gram fraction falls exactly where gzip would compress.
    * Complements [[repetitionMetrics]] (which flags the single worst
    * repeat; this scores the whole distribution).
    *
    * Scale shape: the per-doc ratios are row-local array ops (shingling
    * + `array_distinct` inside whole-stage codegen — nothing per-doc
    * ever shuffles); the only shuffle is the |sources|×3-row rollup.
    * Parity: each per-doc ratio is floored to integer ppm BEFORE the
    * mean, and the mean is an exact integer mean — no float
    * aggregation ([[graft.functions.DetAgg]] rules).
    */
  def ngramDiversity(docs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val tk = tokens(col("text"))
    def ppm(grams: Column): Column =
      halfUpDiv(size(array_distinct(grams)).cast("long") * 1000000L,
        size(grams).cast("long"))
    val perDoc = docs
      .select(col("source"), tk.as("tk"))
      .where(size(col("tk")) >= 3)
      .select(col("source"), explode(array(
        struct(lit(1L).as("n"), ppm(col("tk")).as("ppm")),
        struct(lit(2L).as("n"), ppm(shingles(col("tk"), 2)).as("ppm")),
        struct(lit(3L).as("n"), ppm(shingles(col("tk"), 3)).as("ppm"))))
        .as("e"))
    perDoc
      .groupBy(col("source"), col("e.n").as("n"))
      .agg(count(lit(1)).as("n_docs"),
        halfUpDiv(sum(col("e.ppm")), count(lit(1))).as("mean_div_ppm"))
      .orderBy("source", "n")
  }

  /** Oracle SQL twin of [[ngramDiversity]] — grams re-derived with the
    * series-index construction, distinct counted by GROUP BY. */
  def ngramDiversityOracle: String = {
    import graft.functions.DetAgg.halfUpDivSql
    def gramsFor(n: Int): String = {
      val parts = (0 until n).map(k => s"tk[i + $k]").mkString(" || ' ' || ")
      s"""SELECT doc_id, source, CAST($n AS BIGINT) AS n, $parts AS g
         |  FROM (SELECT doc_id, source, tk,
         |          unnest(generate_series(1, len(tk) - ${n - 1})) AS i
         |        FROM toks) t""".stripMargin
    }
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS tk
       |  FROM documents WHERE len(string_split(text, ' ')) >= 3
       |), g AS (
       |${gramsFor(1)}
       |UNION ALL
       |${gramsFor(2)}
       |UNION ALL
       |${gramsFor(3)}
       |), d AS (
       |  SELECT doc_id, source, n, count(*) AS tot, count(DISTINCT g) AS dis
       |  FROM g GROUP BY 1, 2, 3
       |), p AS (
       |  SELECT source, n,
       |    ${halfUpDivSql("dis * 1000000", "tot")} AS ppm
       |  FROM d
       |)
       |SELECT source, n, count(*) AS n_docs,
       |  ${halfUpDivSql("sum(ppm)", "count(*)")} AS mean_div_ppm
       |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Per-source token-distribution χ² drift vs the whole corpus — the
    * domain-shift detector a mixture pipeline runs per ingest batch:
    * a source whose unigram distribution diverges from the corpus
    * average gets flagged BEFORE it skews the training mix. χ² with
    * expected counts e(t) = n_t·N_s/N_g (corpus share × source mass).
    *
    * The sum splits into present-token terms plus the missing-mass
    * identity: Σ_t e(t) = N_s exactly, so tokens a source never emits
    * contribute N_s − Σ_{t∈s} e(t) in one closed form — no zero-count
    * rows ever materialize (the frame stays |source×type|, never
    * |source|×|vocab|).
    *
    * Parity: every input to the per-term expression is an exact BIGINT
    * (o·N_g and n_t·N_s stay far under 2⁵³, so their double images are
    * exact); the term (o·N_g − n_t·N_s)²/(N_g·n_t·N_s) is scalar IEEE
    * math on identical integers, floored to ppm per term and summed as
    * integers — the [[graft.functions.DetAgg.corrPpm]] discipline. The
    * binding bound is the TRIPLE-product denominator N_g·n_t·N_s
    * (~cubic in corpus size: 3.6×10¹³ measured at sf0.1), which passes
    * 2⁶³ near N_g ≈ 1.7×10⁷ tokens (≈ sf6, loudly under ANSI); past
    * that, promote the products to DECIMAL(38,0) before the double
    * cast.
    *
    * Scale shape: one (source, token) count, one per-token rollup, one
    * co-partitioned join on token, one per-source rollup — all
    * map-side combined, nothing quadratic anywhere.
    */
  def tokenChi2Drift(docs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val st = docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("o"))
      .persist()
    val perTok = st.groupBy(col("tok")).agg(sum(col("o")).as("nt"))
    val perSrc = st.groupBy(col("source")).agg(sum(col("o")).as("ns"),
      count(lit(1)).as("n_types"))
    val ngCol = perSrc.agg(sum(col("ns"))).collect()(0).getLong(0)
    val num = col("o") * lit(ngCol) - col("nt") * col("ns")
    val den = (lit(ngCol) * col("nt") * col("ns")).cast("double")
    val termPpm = floor(num.cast("double") * num.cast("double") / den
      * lit(1000000.0) + lit(0.5)).cast("long")
    val present = st
      .join(perTok, Seq("tok"))
      .join(broadcast(perSrc.select(col("source"), col("ns"))), Seq("source"))
      .groupBy(col("source"))
      .agg(sum(termPpm).as("present_ppm"), sum(col("nt")).as("snt"))
    val out = perSrc.join(present, Seq("source"))
      .select(col("source"), col("ns").as("n_tokens"), col("n_types"),
        (col("present_ppm") +
          halfUpDiv(col("ns") * (lit(ngCol) - col("snt")) * 1000000L,
            lit(ngCol))).as("chi2_ppm"))
      .orderBy("source")
    try out.localCheckpoint() finally { st.unpersist(); () }
  }

  /** Oracle SQL twin of [[tokenChi2Drift]] — same exact-integer terms,
    * same missing-mass closed form. */
  def tokenChi2DriftOracle: String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH t AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents
       |), st AS (
       |  SELECT source, tok, CAST(count(*) AS BIGINT) AS o
       |  FROM t GROUP BY 1, 2
       |), pt AS (SELECT tok, CAST(sum(o) AS BIGINT) AS nt FROM st GROUP BY 1),
       |ps AS (
       |  SELECT source, CAST(sum(o) AS BIGINT) AS ns, count(*) AS n_types
       |  FROM st GROUP BY 1
       |), g AS (SELECT CAST(sum(ns) AS BIGINT) AS ng FROM ps),
       |pres AS (
       |  SELECT st.source,
       |    CAST(sum(CAST(floor(
       |      CAST(st.o * g.ng - pt.nt * ps.ns AS DOUBLE)
       |        * CAST(st.o * g.ng - pt.nt * ps.ns AS DOUBLE)
       |        / CAST(g.ng * pt.nt * ps.ns AS DOUBLE)
       |        * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS present_ppm,
       |    CAST(sum(pt.nt) AS BIGINT) AS snt
       |  FROM st
       |  JOIN pt ON pt.tok = st.tok
       |  JOIN ps ON ps.source = st.source
       |  CROSS JOIN g
       |  GROUP BY 1
       |)
       |SELECT ps.source, ps.ns AS n_tokens, ps.n_types,
       |  pres.present_ppm +
       |    ${halfUpDivSql("ps.ns * (g.ng - pres.snt) * 1000000", "g.ng")}
       |    AS chi2_ppm
       |FROM ps JOIN pres ON pres.source = ps.source CROSS JOIN g
       |ORDER BY ps.source""".stripMargin
  }

  /** Corpus filter policy — the composite keep/drop verdict a
    * pretraining pipeline actually applies (the Gopher/C4 rule-bundle
    * shape): five integer-exact per-document rules, reported as
    * per-source pass counts so a corpus owner sees WHICH rule costs
    * which source how much mass.
    *
    *  r1: token count in [30, 90]        (too short / too long)
    *  r2: mean token length in [4.0, 5.0]  (4n ≤ Σlen ≤ 5n, exact)
    *  r3: stopword ratio ≥ 3%            (100·hits ≥ 3n)
    *  r4: unique-token ratio ≥ 0.4       (5·uniq ≥ 2n)
    *  r5: duplicate-bigram fraction ≤ 25% (4·(nb−ndb) ≤ nb)
    *
    * Every rule is a pure integer comparison — no ratio ever
    * materializes, so cross-engine float parity is structural. All
    * five predicates are row-local (one pass over the scan, inside
    * codegen); the only shuffle is the per-source rollup.
    */
  def filterPolicy(docs: DataFrame): DataFrame = {
    val tk = tokens(col("text"))
    val n = size(tk).cast("long")
    val sumLen = aggregate(transform(tk, t => length(t).cast("long")),
      lit(0L), (s, x) => s + x)
    val stop = countIn(tk, EnStop).cast("long")
    val uniq = size(array_distinct(tk)).cast("long")
    val bg = shingles(tk, 2)
    val nb = size(bg).cast("long")
    val ndb = size(array_distinct(bg)).cast("long")
    val r1 = n >= 30L && n <= 90L
    val r2 = sumLen >= n * 4L && sumLen <= n * 5L
    val r3 = stop * 100L >= n * 3L
    val r4 = uniq * 5L >= n * 2L
    val r5 = (nb - ndb) * 4L <= nb && nb > 0L
    def cnt(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    docs
      .select(col("source"), r1.as("r1"), r2.as("r2"), r3.as("r3"),
        r4.as("r4"), r5.as("r5"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        cnt(col("r1")).as("pass_len"),
        cnt(col("r2")).as("pass_tok_len"),
        cnt(col("r3")).as("pass_stop"),
        cnt(col("r4")).as("pass_uniq"),
        cnt(col("r5")).as("pass_rep"),
        cnt(col("r1") && col("r2") && col("r3") && col("r4") && col("r5"))
          .as("n_pass"))
      .select(col("source"), col("n_docs"), col("pass_len"),
        col("pass_tok_len"), col("pass_stop"), col("pass_uniq"),
        col("pass_rep"), col("n_pass"),
        graft.functions.DetAgg.halfUpDiv(col("n_pass") * 1000000L,
          col("n_docs")).as("pass_ppm"))
      .orderBy("source")
  }

  /** Oracle SQL twin of [[filterPolicy]] — the same five integer
    * predicates over re-derived token stats. */
  def filterPolicyOracle: String = {
    val stopList = EnStop.map(w => s"'$w'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS tk
       |  FROM documents
       |), u AS (
       |  SELECT doc_id, unnest(tk) AS tok FROM toks
       |), ts AS (
       |  SELECT doc_id, CAST(sum(len(tok)) AS BIGINT) AS sum_len,
       |    CAST(sum(CASE WHEN tok IN ($stopList) THEN 1 ELSE 0 END) AS BIGINT)
       |      AS stop_hits,
       |    CAST(count(DISTINCT tok) AS BIGINT) AS uniq
       |  FROM u GROUP BY 1
       |), bg AS (
       |  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g
       |  FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
       |        FROM toks WHERE len(tk) >= 2) t
       |), bs AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nb,
       |    CAST(count(DISTINCT g) AS BIGINT) AS ndb
       |  FROM bg GROUP BY 1
       |), r AS (
       |  SELECT t.source,
       |    CAST(len(t.tk) AS BIGINT) AS n, ts.sum_len, ts.stop_hits, ts.uniq,
       |    coalesce(bs.nb, 0) AS nb, coalesce(bs.ndb, 0) AS ndb
       |  FROM toks t
       |  JOIN ts ON ts.doc_id = t.doc_id
       |  LEFT JOIN bs ON bs.doc_id = t.doc_id
       |), f AS (
       |  SELECT source,
       |    (n >= 30 AND n <= 90) AS r1,
       |    (sum_len >= n * 4 AND sum_len <= n * 5) AS r2,
       |    (stop_hits * 100 >= n * 3) AS r3,
       |    (uniq * 5 >= n * 2) AS r4,
       |    ((nb - ndb) * 4 <= nb AND nb > 0) AS r5
       |  FROM r
       |)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
       |  CAST(sum(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_tok_len,
       |  CAST(sum(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS pass_stop,
       |  CAST(sum(CASE WHEN r4 THEN 1 ELSE 0 END) AS BIGINT) AS pass_uniq,
       |  CAST(sum(CASE WHEN r5 THEN 1 ELSE 0 END) AS BIGINT) AS pass_rep,
       |  CAST(sum(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_pass,
       |  ${graft.functions.DetAgg.halfUpDivSql(
            "sum(CASE WHEN r1 AND r2 AND r3 AND r4 AND r5 THEN 1 ELSE 0 END) * 1000000",
            "count(*)")} AS pass_ppm
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Bigram-LM quality score — the classic perplexity-filter proxy
    * (reference use: corpus quality gating before pretraining) kept
    * fully rational so it hash-gates: each adjacent token pair scores
    * the corpus conditional frequency P(w₂|w₁) in ppm
    * (`1e6·c(w₁w₂) div c(w₁)`, round-half-up), and a document's score
    * is the exact mean over its bigram instances. Low score = improbable
    * word sequences = likely junk; `log` would make it a true
    * cross-entropy but is libm-territory (the [[tokenCommonness]] /
    * q101-PMI monotone-surrogate rule).
    *
    * Scale shape: bigram adjacency is ROW-LOCAL (two slices zipped —
    * no per-token window shuffle), and both count tables are capped at
    * `topK` by (count desc, key) and BROADCAST, so the scoring pass is
    * one scan + map-side joins no matter how wide the corpus; pairs
    * outside the cap score 0 (the OOV convention shared with
    * [[tokenCommonness]]). Two bounded count shuffles total.
    */
  def bigramLmScore(docs: DataFrame, topK: Int = 64000): DataFrame = {
    import graft.functions.DetAgg.{halfUpDiv, ratio}
    val tk = tokens(col("text"))
    val tu = docs.select(explode(tk).as("w1"))
    val uni = tu.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      .orderBy(col("c1").desc, col("w1")).limit(topK)
    val bgi = docs
      .select(col("doc_id"), tk.as("tk")).where(size(col("tk")) >= 2)
      .select(col("doc_id"),
        explode(arrays_zip(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1))).as("p"))
      .select(col("doc_id"), col("p.`0`").as("w1"), col("p.`1`").as("w2"))
    val big = bgi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .orderBy(col("c2").desc, col("w1"), col("w2")).limit(topK)
    val condPpm = when(col("c1").isNull || col("c2").isNull, lit(0L))
      .otherwise(halfUpDiv(col("c2") * 1000000L, col("c1")))
    bgi.join(broadcast(uni), Seq("w1"), "left")
      .join(broadcast(big), Seq("w1", "w2"), "left")
      .select(col("doc_id"), condPpm.as("cond_ppm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        ratio(sum(col("cond_ppm")), count(lit(1))).as("avg_cond_ppm"),
        min(col("cond_ppm")).as("min_cond_ppm"))
      .orderBy("doc_id")
  }

  /** Oracle SQL twin of [[bigramLmScore]]. */
  def bigramLmScoreOracle(topK: Int = 64000): String = {
    import graft.functions.DetAgg.{halfUpDivSql, ratioSql}
    s"""WITH tu AS (SELECT unnest(string_split(text, ' ')) AS w1
       |            FROM documents),
       |uni AS (SELECT w1, count(*) AS c1 FROM tu GROUP BY 1
       |        ORDER BY c1 DESC, w1 LIMIT $topK),
       |t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |      WHERE len(string_split(text, ' ')) >= 2),
       |bgi AS (
       |  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
       |  FROM (SELECT doc_id, tk,
       |          unnest(generate_series(1, len(tk) - 1)) AS i FROM t)
       |),
       |big AS (SELECT w1, w2, count(*) AS c2 FROM bgi GROUP BY 1, 2
       |        ORDER BY c2 DESC, w1, w2 LIMIT $topK),
       |sc AS (
       |  SELECT b.doc_id,
       |    CASE WHEN u.c1 IS NULL OR g.c2 IS NULL THEN 0
       |         ELSE ${halfUpDivSql("g.c2 * 1000000", "u.c1")} END AS cond_ppm
       |  FROM bgi b
       |  LEFT JOIN uni u ON u.w1 = b.w1
       |  LEFT JOIN big g ON g.w1 = b.w1 AND g.w2 = b.w2
       |)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  ${ratioSql("sum(cond_ppm)", "count(*)")} AS avg_cond_ppm,
       |  CAST(min(cond_ppm) AS BIGINT) AS min_cond_ppm
       |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Exact phrase search over a positional inverted index — the
    * retrieval-serving shape: postings are (term, doc_id, pos) rows,
    * the query's terms SELECT their posting lists first (term
    * selectivity is the pushed-down filter — only the phrase's terms
    * ever shuffle, never the corpus), and adjacency is an equi-join on
    * `(doc_id, pos+1)`. Emits per-doc match counts and the first match
    * position (1-based).
    *
    * Scale shape: on 100 TB the postings frame is a pre-built table
    * partitioned/bucketed by term (the q54/q58 write-once layout
    * precedent); the in-query derivation here keeps the oracle
    * independent. Join traffic is |postings(w₁)| + |postings(w₂)| rows
    * of three longs each.
    */
  def phraseSearch(docs: DataFrame, w1: String = "data",
                   w2: String = "table"): DataFrame = {
    val postings = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .where(col("term").isin(w1, w2))
    val p1 = postings.where(col("term") === w1)
      .select(col("doc_id"), col("pos"))
    val p2 = postings.where(col("term") === w2)
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    p1.join(p2, Seq("doc_id", "pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        (min(col("pos")) + 1).cast("long").as("first_pos"))
      .orderBy("doc_id")
  }

  /** Oracle SQL twin of [[phraseSearch]] (1-based list indexing mirrors
    * the operator's `pos + 1`).
    */
  def phraseSearchOracle(w1: String = "data", w2: String = "table"): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
       |           FROM documents
       |           WHERE len(string_split(text, ' ')) >= 2),
       |m AS (
       |  SELECT doc_id, i
       |  FROM (SELECT doc_id, tk,
       |          unnest(generate_series(1, len(tk) - 1)) AS i FROM t)
       |  WHERE tk[i] = '$w1' AND tk[i+1] = '$w2'
       |)
       |SELECT doc_id, count(*) AS n_matches,
       |  CAST(min(i) AS BIGINT) AS first_pos
       |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  /** Email/phone patterns shared by [[plantPii]]/[[piiScrub]] and the
    * oracle — kept to the regex subset Java and RE2 interpret
    * identically (char classes + bounded repetition; no lookaround, no
    * \\d shorthand, so there is no engine-specific semantics to drift).
    */
  val EmailRe = "[a-z0-9.]+@[a-z0-9.]+\\.[a-z]+"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Deterministic PII planting — the corpus ships clean, so the scrub
    * stage gets its fixtures the [[AuditOps.demoV2]] way: doc_id % 7
    * gains an email, doc_id % 11 a phone number (doc_id % 77 both).
    */
  def plantPii(docs: DataFrame): DataFrame =
    docs
      .withColumn("text", when(pmod(col("doc_id"), lit(7L)) === 0L,
        concat(col("text"), lit(" contact bob@example.com now")))
        .otherwise(col("text")))
      .withColumn("text", when(pmod(col("doc_id"), lit(11L)) === 0L,
        concat(col("text"), lit(" call 555-123-4567")))
        .otherwise(col("text")))

  /** PII redaction — the compliance stage every training corpus passes
    * before release: emails and phone numbers are replaced with typed
    * placeholder tokens, and each document emits detection flags plus
    * an md5 receipt of the scrubbed text (the [[unkMask]]
    * reproducibility contract — two runs, or two clusters, must
    * produce byte-identical redacted corpora).
    *
    * Scale shape: entirely ROW-LOCAL (regex match + replace inside
    * codegen, no shuffle but the presentation sort); the receipt is
    * what a 100 TB run ships to the audit log instead of the text.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val scrubbed = regexp_replace(
      regexp_replace(col("text"), EmailRe, "<email>"),
      PhoneRe, "<phone>")
    val base = docs.select(col("doc_id"),
      col("text").rlike(EmailRe).cast("long").as("had_email"),
      col("text").rlike(PhoneRe).cast("long").as("had_phone"),
      md5(scrubbed).as("scrub_md5"))
    // the sort is presentation-only; an append-mode stream cannot (and
    // need not) sort, which is also the proof the op is stateless
    if (docs.isStreaming) base else base.orderBy("doc_id")
  }

  /** Oracle SQL twin of [[piiScrub]] over [[plantPii]]'s documents. */
  def piiScrubOracle: String =
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 11 = 0 THEN t1 || ' call 555-123-4567'
       |         ELSE t1 END AS text
       |  FROM (
       |    SELECT doc_id,
       |      CASE WHEN doc_id % 7 = 0
       |           THEN text || ' contact bob@example.com now'
       |           ELSE text END AS t1
       |    FROM documents)
       |)
       |SELECT doc_id,
       |  CAST(CASE WHEN regexp_matches(text, '$EmailRe') THEN 1 ELSE 0 END
       |    AS BIGINT) AS had_email,
       |  CAST(CASE WHEN regexp_matches(text, '$PhoneRe') THEN 1 ELSE 0 END
       |    AS BIGINT) AS had_phone,
       |  md5(regexp_replace(regexp_replace(text, '$EmailRe', '<email>', 'g'),
       |    '$PhoneRe', '<phone>', 'g')) AS scrub_md5
       |FROM p ORDER BY doc_id""".stripMargin

  /** Zipf rank-frequency curve over the top-`k` corpus tokens — the
    * "is this corpus natural-language-shaped?" diagnostic: per rank,
    * the token, its count, its corpus share (ppm), the cumulative
    * share, and the Zipf constancy product `n·rank` (flat ⇔ the
    * frequencies follow 1/rank; synthetic or boilerplate-heavy corpora
    * bow visibly). Log-log slope fitting needs libm, so the product
    * form IS the parity-safe fit statistic.
    *
    * Scale shape: one map-side-combined token count (the q25 shape),
    * top-k via TakeOrdered — the rank/cumulative windows run AFTER the
    * limit, on a k-row driver-sized frame, so the unpartitioned window
    * is bounded by construction, never by the vocabulary.
    */
  def zipfCurve(docs: DataFrame, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.DetAgg.halfUpDiv
    val counts = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("total"))
    val w = Window.orderBy(col("n").desc, col("token"))
    counts.orderBy(col("n").desc, col("token")).limit(k)
      .crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_n", sum(col("n")).over(w))
      .select(col("rank"), col("token"), col("n"),
        halfUpDiv(col("n") * 1000000L, col("total")).as("share_ppm"),
        halfUpDiv(col("cum_n") * 1000000L, col("total"))
          .as("cum_share_ppm"),
        (col("n") * col("rank")).as("zipf_c"))
      .orderBy("rank")
  }

  /** Good–Turing frequency smoothing statistics per language — the
    * count-of-counts estimators every n-gram LM smoother is built
    * from, computed EXACTLY (no log-space fitting, so fully
    * parity-safe): total token mass N, vocabulary V, the singleton/
    * doubleton/… class sizes N₁..N₄, the Good–Turing unseen-mass
    * estimate p₀ = N₁/N (ppm — the probability the NEXT token is a
    * never-seen type), the smoothed adjusted counts
    * r* = (r+1)·N_{r+1}/N_r for r = 1, 2 (10⁻⁴ units), and the
    * Kneser–Ney absolute discount D = N₁/(N₁ + 2N₂) (ppm). A language
    * whose p₀ stays high at corpus scale is under-sampled; D feeds
    * directly into a KN-smoothed LM over the q202 bigram tier.
    *
    * Scale shape: (lang, token) count → count-of-counts rollup — two
    * map-side-combined aggregates, frames bounded by vocabulary then
    * by |distinct r|; no windows, no sorts beyond the |langs| output.
    */
  def goodTuring(docs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val tok = docs.select(col("lang"),
      explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("r"))
    def nr(k: Int): Column = sum(when(col("r") === k.toLong, 1L).otherwise(0L))
    tok.groupBy(col("lang"))
      .agg(sum(col("r")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        nr(1).as("n1"), nr(2).as("n2"), nr(3).as("n3"), nr(4).as("n4"))
      .select(col("lang"), col("n_tokens"), col("vocab"),
        col("n1"), col("n2"), col("n3"), col("n4"),
        halfUpDiv(col("n1") * 1000000L, col("n_tokens")).as("p0_ppm"),
        when(col("n1") > 0L,
          halfUpDiv(col("n2") * 20000L, col("n1"))).as("rstar1_e4"),
        when(col("n2") > 0L,
          halfUpDiv(col("n3") * 30000L, col("n2"))).as("rstar2_e4"),
        when(col("n1") + col("n2") > 0L,
          halfUpDiv(col("n1") * 1000000L, col("n1") + col("n2") * 2L))
          .as("kn_discount_ppm"))
      .orderBy("lang")
  }

  /** Oracle SQL twin of [[goodTuring]]. */
  def goodTuringOracle: String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH tc AS (
       |  SELECT lang, token, CAST(count(*) AS BIGINT) AS r FROM (
       |    SELECT lang, unnest(string_split(text, ' ')) AS token
       |    FROM documents) t
       |  GROUP BY 1, 2
       |), m AS (
       |  SELECT lang, CAST(sum(r) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS vocab,
       |    CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |    CAST(sum(CASE WHEN r = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       |    CAST(sum(CASE WHEN r = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
       |  FROM tc GROUP BY 1
       |)
       |SELECT lang, n_tokens, vocab, n1, n2, n3, n4,
       |  ${halfUpDivSql("n1 * 1000000", "n_tokens")} AS p0_ppm,
       |  CASE WHEN n1 > 0 THEN ${halfUpDivSql("n2 * 20000", "n1")}
       |    END AS rstar1_e4,
       |  CASE WHEN n2 > 0 THEN ${halfUpDivSql("n3 * 30000", "n2")}
       |    END AS rstar2_e4,
       |  CASE WHEN n1 + n2 > 0 THEN
       |    ${halfUpDivSql("n1 * 1000000", "n1 + 2 * n2")}
       |  END AS kn_discount_ppm
       |FROM m ORDER BY lang""".stripMargin
  }

  /** Feature-hashing collision audit — the pre-flight for the hashing
    * trick (hashed bag-of-words / hashed cross features): the token
    * vocabulary is hashed into `buckets` slots with the portable
    * polynomial hash, and the output is the count-of-counts histogram
    * (types-per-bucket → number of buckets, plus the token MASS riding
    * those buckets). The mass column is what matters: a 3-type bucket
    * of rare tokens is harmless, a 2-type bucket aliasing two frequent
    * tokens corrupts every downstream dot product. Empty-bucket count
    * is `buckets − Σ n_buckets` by construction.
    *
    * Scale shape: vocabulary-sized frames after one map-side-combined
    * token count; the hash is row-local; two tiny rollups. Nothing
    * scales with the corpus beyond the first count.
    */
  def featureHashing(docs: DataFrame, buckets: Int = 1024): DataFrame = {
    val tok = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    tok.select(pmod(graft.functions.TextFunctions.portableHash(col("token")),
        lit(buckets.toLong)).as("bucket"), col("cnt"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_types"), sum(col("cnt")).as("mass"))
      .groupBy(col("n_types"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("mass")).as("token_mass"))
      .orderBy("n_types")
  }

  /** Oracle SQL twin of [[featureHashing]]. */
  def featureHashingOracle(buckets: Int = 1024): String = {
    val h = graft.functions.TextFunctions.portableHashSql("token")
    s"""WITH c AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
       |  GROUP BY 1
       |), b AS (
       |  SELECT ((($h) % $buckets) + $buckets) % $buckets AS bucket,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(cnt) AS BIGINT) AS mass
       |  FROM c GROUP BY 1
       |)
       |SELECT n_types, CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(sum(mass) AS BIGINT) AS token_mass
       |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Held-out bigram coverage per language — the LM-generalization
    * audit: what fraction of the VALIDATION split's bigrams (types and
    * occurrence mass) already occur in the TRAIN split? Low mass
    * coverage means a bigram-backoff LM trained on this corpus hits
    * its unseen path constantly on held-out text — the n-gram-level
    * sibling of q94's unigram vocab coverage, and the direct consumer
    * of [[goodTuring]]'s unseen-mass estimate. Splits use the
    * repo-standard content-hash rule ([[ScaleOps.splitAssign]]).
    *
    * Scale shape: bigram generation is the [[bigramLmScore]] zip shape
    * (row-local, linear in tokens); the train side collapses to its
    * per-language DISTINCT (lang, bigram) set (map-side combined)
    * before the single hash-join against the val side's bigram counts
    * — keyed by language, so coverage measures what a PER-LANGUAGE
    * bigram LM would have seen; rollup is
    * |langs| rows. The join carries bigram STRINGS — at 100× the keys
    * would ride [[graft.functions.TextFunctions.portableHash]] 8-byte
    * keys instead (the [[graft.operators.DedupOp.ngramJaccard]]
    * stance); kept verbatim here for oracle clarity.
    */
  def holdoutBigramCoverage(docs: DataFrame, trainPct: Int = 90,
                            valPct: Int = 5): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val bucket = pmod(ScaleOps.docHash, lit(100L))
    val tk = tokens(col("text"))
    val bg = docs
      .select(col("lang"), bucket.as("b"), tk.as("tk"))
      .where(size(col("tk")) >= 2)
      .select(col("lang"), col("b"),
        explode(arrays_zip(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1))).as("p"))
      .select(col("lang"), col("b"),
        concat(col("p.`0`"), lit(" "), col("p.`1`")).as("bg"))
    // keyed by (lang, bg): a val bigram only counts as "seen" if THIS
    // language's train split contains it — cross-language sharing would
    // overstate per-language LM generalization (an en bigram appearing
    // in the de train split does not help a de bigram LM).
    val train = bg.where(col("b") < trainPct)
      .select(col("lang"), col("bg")).distinct()
      .withColumn("seen", lit(1L))
    val valCnt = bg
      .where(col("b") >= trainPct && col("b") < trainPct + valPct)
      .groupBy(col("lang"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
    valCnt.join(train, Seq("lang", "bg"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_val_types"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen_types"),
        sum(col("cnt")).as("val_mass"),
        sum(col("cnt") * coalesce(col("seen"), lit(0L))).as("seen_mass"))
      .select(col("lang"), col("n_val_types"), col("n_seen_types"),
        halfUpDiv(col("n_seen_types") * 1000000L, col("n_val_types"))
          .as("type_cov_ppm"),
        col("val_mass"), col("seen_mass"),
        halfUpDiv(col("seen_mass") * 1000000L, col("val_mass"))
          .as("mass_cov_ppm"))
      .orderBy("lang")
  }

  /** Oracle SQL twin of [[holdoutBigramCoverage]]. */
  def holdoutBigramCoverageOracle(trainPct: Int = 90,
                                  valPct: Int = 5): String = {
    import graft.functions.DetAgg.halfUpDivSql
    val h = ScaleOps.docHashSql
    s"""WITH t AS (
       |  SELECT lang, ($h) % 100 AS b, string_split(text, ' ') AS tk
       |  FROM documents WHERE len(string_split(text, ' ')) >= 2
       |), bg AS (
       |  SELECT lang, b, tk[i] || ' ' || tk[i+1] AS bg
       |  FROM (SELECT lang, b, tk,
       |          unnest(generate_series(1, len(tk) - 1)) AS i FROM t)
       |), tr AS (SELECT DISTINCT lang, bg FROM bg WHERE b < $trainPct),
       |v AS (
       |  SELECT lang, bg.bg, CAST(count(*) AS BIGINT) AS cnt
       |  FROM bg WHERE b >= $trainPct AND b < ${trainPct + valPct}
       |  GROUP BY 1, 2
       |), j AS (
       |  SELECT v.lang, v.cnt,
       |    CASE WHEN tr.bg IS NULL THEN 0 ELSE 1 END AS seen
       |  FROM v LEFT JOIN tr ON tr.lang = v.lang AND tr.bg = v.bg
       |), m AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_val_types,
       |    CAST(sum(seen) AS BIGINT) AS n_seen_types,
       |    CAST(sum(cnt) AS BIGINT) AS val_mass,
       |    CAST(sum(cnt * seen) AS BIGINT) AS seen_mass
       |  FROM j GROUP BY 1
       |)
       |SELECT lang, n_val_types, n_seen_types,
       |  ${halfUpDivSql("n_seen_types * 1000000", "n_val_types")}
       |    AS type_cov_ppm,
       |  val_mass, seen_mass,
       |  ${halfUpDivSql("seen_mass * 1000000", "val_mass")} AS mass_cov_ppm
       |FROM m ORDER BY lang""".stripMargin
  }

  /** q282: tokenizer compression ratio per language — bytes per
    * whitespace token and bytes per BPE-regex token, the budgeting
    * numbers a pretraining mix is planned in ("this corpus is N
    * tokens" is meaningless without bytes/token per language; CJK and
    * morphology-rich languages diverge 2–4× from English). Reported
    * as exact ppm ratios ([[graft.functions.DetAgg.halfUpDiv]]) over
    * corpus-total byte and token masses — pooled, not per-doc-mean,
    * so big documents weigh what they cost.
    *
    * Scale shape: one row-local projection (octet_length + two token
    * counts per document) and one map-side-combined groupBy to
    * |langs| rows — the cheapest possible full-corpus scan shape.
    */
  def bytesPerToken(docs: DataFrame): DataFrame = {
    import graft.functions.DetAgg.halfUpDiv
    val ws = size(graft.functions.TextFunctions.tokens(col("text")))
    val re = size(filter(
      split(lower(col("text")), "[^a-z0-9]+"), t => t =!= ""))
    docs.select(col("lang"),
        octet_length(col("text")).cast("long").as("nb"),
        ws.cast("long").as("nw"), re.cast("long").as("nr"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nb")).as("n_bytes"),
        sum(col("nw")).as("n_ws_tokens"),
        sum(col("nr")).as("n_re_tokens"))
      .select(col("lang"), col("n_docs"), col("n_bytes"),
        col("n_ws_tokens"), col("n_re_tokens"),
        halfUpDiv(col("n_bytes") * 1000000L, col("n_ws_tokens"))
          .as("bytes_per_ws_ppm"),
        halfUpDiv(col("n_bytes") * 1000000L, col("n_re_tokens"))
          .as("bytes_per_re_ppm"))
      .orderBy("lang")
  }

  /** Oracle SQL twin of [[bytesPerToken]] — `strlen` is DuckDB's
    * byte length (its `octet_length` is BLOB-only); the regex token
    * count is the q41 unnest-and-drop-empties twin (no lambdas in
    * DuckDB-1.0 oracle SQL). */
  def bytesPerTokenOracle: String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH b AS (
       |  SELECT lang, count(*) AS n_docs,
       |    CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_ws
       |  FROM documents GROUP BY 1
       |), r AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_re FROM (
       |    SELECT lang, unnest(string_split_regex(lower(text),
       |      '[^a-z0-9]+')) AS tok
       |    FROM documents) t
       |  WHERE tok <> '' GROUP BY 1
       |)
       |SELECT b.lang, b.n_docs, b.n_bytes,
       |  b.n_ws AS n_ws_tokens, r.n_re AS n_re_tokens,
       |  ${halfUpDivSql("b.n_bytes * 1000000", "b.n_ws")}
       |    AS bytes_per_ws_ppm,
       |  ${halfUpDivSql("b.n_bytes * 1000000", "r.n_re")}
       |    AS bytes_per_re_ppm
       |FROM b JOIN r ON r.lang = b.lang ORDER BY 1""".stripMargin
  }

  /** Oracle SQL twin of [[zipfCurve]]. */
  def zipfCurveOracle(k: Int = 50): String = {
    import graft.functions.DetAgg.halfUpDivSql
    s"""WITH c AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
       |  GROUP BY 1
       |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
       |topk AS (
       |  SELECT token, n,
       |    CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank,
       |    CAST(sum(n) OVER (ORDER BY n DESC, token) AS BIGINT) AS cum_n
       |  FROM c ORDER BY n DESC, token LIMIT $k
       |)
       |SELECT rank, token, n,
       |  ${halfUpDivSql("n * 1000000", "total")} AS share_ppm,
       |  ${halfUpDivSql("cum_n * 1000000", "total")} AS cum_share_ppm,
       |  n * rank AS zipf_c
       |FROM topk, tot ORDER BY rank""".stripMargin
  }
}
