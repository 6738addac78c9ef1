package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Lineage.CpOps

/** Corpus-level text statistics for LLM-data pipelines: term/document
  * frequencies, TF-IDF, bigram counts, and edit-distance fuzzy
  * verification. All explode-then-aggregate plans — shuffle volume
  * linear in token count, partial aggregation map-side.
  */
object TextStats {

  private def toks(c: Column): Column =
    split(regexp_replace(lower(trim(c)), "\\s+", " "), " ")

  /** #47 Top terms by document frequency: the vocabulary head — one
    * explode + two aggregations; top-k via rank filter
    * (WindowGroupLimit keeps the final exchange tiny).
    */
  def topTerms(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val termDoc = Tables
      .documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(toks(col("text")))).as("term"))
    termDoc
      .groupBy("term")
      .agg(count(lit(1)).as("doc_freq"))
      .withColumn("rank", row_number().over(Window.orderBy(col("doc_freq").desc, col("term"))).cast("long"))
      .filter(col("rank") <= k)
  }

  /** #48 TF-IDF: top-3 highest-scoring terms per document.
    * tf = in-doc count, idf = ln(N / df). The df table is vocab-sized
    * — small for curated corpora but web-scale vocab (URLs, typos) can
    * be huge, so the tf⋈df join carries no broadcast hint; both sides
    * are already partitioned by term from their aggregations, and AQE
    * broadcasts when df actually fits.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val termDoc = docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val tf = termDoc.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(count(lit(1)).as("n_docs"))
    // rank on the UNROUNDED score (ties then break on term) so both
    // engines order identically; round only at output
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf_raw").desc, col("term"))
    tf.join(df_, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf_raw", col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(
        col("doc_id"),
        col("rank"),
        col("term"),
        round(col("tfidf_raw"), 4).as("tfidf"))
  }

  /** #410 Quantile normalization across sources (the microarray /
    * batch-effect harmonizer, Bolstad 2003, applied to corpus mixing:
    * per-source length distributions differ by crawler artifact, not
    * content, so per-source quality cuts bite unevenly — mapping each
    * source's empirical distribution ONTO the pooled one equalizes
    * them before a single corpus-wide threshold): each document's
    * n_chars is replaced by the pooled value at its within-source
    * rank, index = 1 + (rn−1)(N−1) div (n_s−1) — pure integer rank
    * arithmetic, deterministic (value, doc_id) tie order, so the
    * replay is exact. Single-doc sources map to the pooled median
    * index (N+1) div 2 (the only defensible point). Oracle-mode
    * global window over the pooled frame (the #83/#135 precedent:
    * documents-table scale; the 100 TB path replaces it with the
    * range-partitioner-sample ranking in `Scale.zfile`'s scaleMode).
    */
  def quantileNormalize(spark: SparkSession, dir: String, cut: Boolean = true): DataFrame = {
    // cut=false is the PlanDisciplineSpec audit form (full plan, no
    // RDDScan); production keeps the cut — docs feeds three consumers
    val docs = Lineage.cutIf(cut)(
      Tables
        .documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars")))
    // pooled frame ranked by (value, doc_id) — a deterministic total
    // order both engines replay identically
    val pooledDet = docs
      .select(col("n_chars").as("pooled_value"), col("doc_id").as("pid"))
      .withColumn(
        "gidx",
        row_number().over(Window.orderBy(col("pooled_value"), col("pid"))).cast("long"))
      .select("gidx", "pooled_value")
    val n = docs.agg(count(lit(1)).as("n_pool"))
    docs
      .withColumn(
        "rn",
        row_number()
          .over(Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id")))
          .cast("long"))
      .withColumn(
        "n_src",
        count(lit(1)).over(Window.partitionBy("source")).cast("long"))
      .crossJoin(broadcast(n))
      .withColumn(
        "gidx",
        expr("""CASE WHEN n_src = 1 THEN (n_pool + 1) div 2
                     ELSE 1 + (rn - 1) * (n_pool - 1) div (n_src - 1) END"""))
      .join(pooledDet, "gidx")
      .select(
        col("doc_id"),
        col("source"),
        col("n_chars"),
        col("pooled_value").as("qnorm_chars"))
  }

  /** #408 BM25 ranking (Robertson–Spärck Jones, k1 = 1.2 / b = 0.75 —
    * the lexical retrieval scorer every search engine defaults to;
    * #48's TF-IDF has no saturation or length normalization, BM25 is
    * what production ranking actually runs): score every document
    * against a DETERMINISTIC 3-term query — the terms ranked 11..13
    * by (df desc, term), mid-frequency by construction so idf carries
    * signal — and return the top-25. Per-term score idf·tf·(k1+1) /
    * (tf + k1(1−b) + k1·b·len·N/Σlen) with idf = ln((N−df+0.5)/
    * (df+0.5)): a DOUBLE of exact integer inputs, e6-quantized PER
    * TERM with floor(x·10⁶+0.5) then summed (order-free — the
    * established float recipe), so DuckDB replays bit-exactly.
    * One tokenize pass feeds both tf and doc length; the 3-term
    * query prunes the tf table with a broadcast semi-join BEFORE any
    * scoring — at 100 TB the scored frame is |query|·docs-with-term,
    * never the full posting list.
    */
  def bm25(spark: SparkSession, dir: String, topK: Int = 25): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .withColumn("tok", toks(col("text")))
      .select(col("doc_id"), col("tok"))
      .localCheckpoint(eager = false)
    val dl = docs.select(col("doc_id"), size(col("tok")).cast("long").as("dl"))
    val tf = docs
      .select(col("doc_id"), explode(col("tok")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qterms = df_
      .withColumn(
        "r",
        row_number().over(Window.orderBy(col("df").desc, col("term"))))
      .filter(col("r").between(11, 13))
      .select("term", "df")
    val totals = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    tf.join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .select(
        col("doc_id"),
        expr("""CAST(floor(
                  ln((n_docs - df + 0.5) / (df + 0.5))
                  * (tf * 2.2)
                  / (tf + 0.3 + 0.9 * CAST(dl AS DOUBLE) * n_docs / sum_dl)
                  * 1e6 + 0.5) AS BIGINT)""").as("term_e6"))
      .groupBy("doc_id")
      .agg(sum("term_e6").as("score_e6"), count(lit(1)).as("n_terms_hit"))
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("score_e6").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** #49 Bigram counts: adjacent-token pairs from the position
    * sequence (no self-join), global top-25 with tiebreak.
    */
  def topBigrams(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    // tokenize ONCE into an aliased column — inlining `toks` here makes
    // every element_at re-split the text (O(tokens²) per doc; measured
    // 9 s → 0.5 s at sf0.1)
    val t = col("tok")
    val bigrams = Tables
      .documents(spark, dir)
      .withColumn("tok", toks(col("text")))
      .select(
        explode(
          when(size(t) < 2, array().cast("array<string>"))
            .otherwise(
              transform(
                sequence(lit(1), size(t) - 1),
                i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))).as("bigram"))
    bigrams
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(Window.orderBy(col("n").desc, col("bigram"))).cast("long"))
      .filter(col("rank") <= k)
  }

  /** #157 Collocation mining: adjacent-token pairs ranked by Dice
    * coefficient 2·c_ab/(c_a+c_b) — the measure that surfaces phrases
    * ("machine learning") over merely-frequent pairs ("of the"),
    * without PMI's log (a cross-engine ulp hazard): the score lives on
    * an e6 integer grid, dice_e6 = (2·c_ab·10⁶) div (c_a+c_b), exact
    * in any engine. Counts come from one bigram explode + one unigram
    * explode (both linear, partial-agg combined); the two
    * vocabulary-sized joins shuffle on the token, never the corpus;
    * top-k via the rank-filter window (WindowGroupLimit map-side).
    */
  def collocations(
      spark: SparkSession,
      dir: String,
      k: Int = 25,
      minCount: Int = 5): DataFrame = {
    val t = col("tok")
    val docs = Tables.documents(spark, dir).withColumn("tok", toks(col("text")))
    val uni = docs.select(explode(t).as("w")).groupBy("w").agg(count(lit(1)).as("c"))
    val pairs = docs
      .select(
        explode(
          when(size(t) < 2, array().cast("array<struct<a:string,b:string>>"))
            .otherwise(
              transform(
                sequence(lit(1), size(t) - 1),
                i => struct(element_at(t, i).as("a"), element_at(t, i + 1).as("b"))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    pairs
      .join(uni.select(col("w").as("a"), col("c").as("c_a")), "a")
      .join(uni.select(col("w").as("b"), col("c").as("c_b")), "b")
      .withColumn("dice_e6", expr("(2 * c_ab * 1000000) div (c_a + c_b)"))
      .withColumn(
        "rank",
        row_number()
          .over(Window.orderBy(col("dice_e6").desc, col("a"), col("b")))
          .cast("long"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"), col("dice_e6"))
  }

  /** #50 Fuzzy edit-distance verify: Levenshtein distance on the
    * normalized text of near-dup candidate pairs (from the planted
    * truncation dups: doc vs doc+1M). O(len²) edit distance runs only
    * on the planted pairs, never corpus×corpus.
    */
  def fuzzyVerify(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm"))
    val truncated = docs
      .filter(col("doc_id") % 5 === 0)
      .select(
        (col("doc_id") + 1000000L).as("doc_b"),
        col("doc_id").as("doc_a"),
        array_join(
          slice(split(col("norm"), " "), lit(1),
            greatest(lit(1), floor(size(split(col("norm"), " ")) * 0.8).cast("int"))),
          " ").as("norm_b"))
    truncated
      .join(docs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("norm", "norm_a"), "doc_a")
      .select(
        col("doc_a"),
        col("doc_b"),
        levenshtein(col("norm_a"), col("norm_b")).cast("long").as("edit_dist"),
        round(
          lit(1.0) - levenshtein(col("norm_a"), col("norm_b")).cast("double") /
            greatest(length(col("norm_a")), length(col("norm_b"))),
          4).as("edit_sim"))
  }

  /** #119 Token-distribution drift per source: KL(P_source ‖ P_corpus)
    * in bits over the unigram distribution — the mixture-monitoring
    * statistic a pretraining pipeline tracks to catch a source whose
    * crawl changed character (new boilerplate, language shift, spam
    * influx) before it poisons a training run. Complements
    * [[graft.operators.Sampling.mixtureWeights]]: weights decide how
    * much of each source to take, drift tells you when a source's
    * CONTENT moved.
    *
    * Every margin (per-source totals, per-token totals, corpus total)
    * derives from ONE (source, token) contingency aggregation — a
    * single explode + one shuffle; the margins are vocab-/source-sized
    * (small) and broadcast back. Per-term contributions are quantized
    * to e6 integers before summing (⌊p·log2(p/q)·10⁶ + 0.5⌋), so the
    * per-source sum is order-independent — exact cross-engine, the
    * `dedup_semantic` discipline applied to floating KL terms.
    */
  def klDrift(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables
      .documents(spark, dir)
      .select(col("source"), explode(toks(col("text"))).as("w"))
    val cont = tok.groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
    val bySrc = cont.groupBy("source").agg(sum("c_sw").as("n_s"))
    val byTok = cont.groupBy("w").agg(sum("c_sw").as("c_w"))
    val total = cont.agg(sum("c_sw").as("n_total"))
    val p = col("c_sw").cast("double") / col("n_s")
    val logRatio = log2(
      (col("c_sw").cast("double") * col("n_total").cast("double")) /
        (col("n_s").cast("double") * col("c_w").cast("double")))
    cont
      .join(bySrc, "source")
      .join(byTok, "w")
      .crossJoin(broadcast(total))
      .withColumn("term_e6", floor(p * logRatio * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col("source"), col("n_s").as("n_tokens"))
      .agg(
        count(lit(1)).as("n_terms"),
        (sum("term_e6") / lit(1e6)).as("kl_bits"))
  }

  /** #311 Jensen–Shannon drift per source: JS(P_source ‖ P_corpus) in
    * bits — the SYMMETRIC, bounded-[0,1] companion to #119's KL, the
    * drift number dashboards prefer because it never diverges when a
    * source drops a corpus-common token (KL's q→0 blowup). Split into
    * an exact closed form plus present-pair float terms: for tokens
    * ABSENT from the source p=0, so the term is q·log₂(q/(q/2)) = q
    * exactly — the whole absent-token tail collapses to
    * (n_total − cov)/(2·n_total) with cov = Σ_{w∈source} c_w, an
    * EXACT integer quotient (no per-token work for the long tail —
    * also the at-scale win: term count is |present pairs|, not
    * |vocab|×|sources|). Present terms p·log₂(2p/(p+q)) + q·log₂(2q/(p+q))
    * with the ratios formed from INTEGER products (2·c_sw·n_t/D and
    * 2·c_w·n_s/D, D = c_sw·n_t + c_w·n_s — both engines evaluate
    * log₂ of the same double), each term e6-quantized before the
    * order-independent sum (#119's discipline); final
    * js_e6 = Σterm div 2 + exact tail. One contingency aggregate +
    * vocab-sized margins, no windows.
    */
  def jsDrift(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables
      .documents(spark, dir)
      .select(col("source"), explode(toks(col("text"))).as("w"))
    val cont = tok.groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
    val bySrc = cont.groupBy("source").agg(sum("c_sw").as("n_s"))
    val byTok = cont.groupBy("w").agg(sum("c_sw").as("c_w"))
    val total = cont.agg(sum("c_sw").as("n_total"))
    val p = col("c_sw").cast("double") / col("n_s")
    val q = col("c_w").cast("double") / col("n_total")
    val dd = col("c_sw").cast("double") * col("n_total") +
      col("c_w").cast("double") * col("n_s")
    val termP = p * log2(lit(2d) * col("c_sw").cast("double") * col("n_total") / dd)
    val termQ = q * log2(lit(2d) * col("c_w").cast("double") * col("n_s") / dd)
    cont
      .join(bySrc, "source")
      .join(byTok, "w")
      .crossJoin(broadcast(total))
      .withColumn("term_e6", floor((termP + termQ) * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col("source"), col("n_s").as("n_tokens"), col("n_total"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum("term_e6").as("sum_term_e6"),
        sum("c_w").as("cov"))
      .select(
        col("source"),
        col("n_tokens"),
        col("n_terms"),
        expr("CAST(CAST(cov AS DECIMAL(38,0)) * 1000000 div n_total AS BIGINT)")
          .as("coverage_e6"),
        expr("""sum_term_e6 div 2
                + CAST((n_total - cov) AS DECIMAL(38,0)) * 1000000 div (2 * n_total)""")
          .cast("long")
          .as("js_e6"))
  }

  /** #313 Mutual information lang × source: I(lang; source) in bits
    * over the document contingency table, with both marginal
    * entropies and the normalized MI — the "does source determine
    * language" dependence read that #156's χ² tests for significance
    * but cannot SIZE (MI is the effect measure: 0 = independent,
    * min(H) = fully determined). Absent cells contribute exactly 0
    * (p·log p → 0), so only present pairs carry terms — no
    * vocab-cross materialization. Each MI term
    * p_ij·log₂(c_ij·N/(r_i·c_j)) and entropy term (r_i/N)·log₂(N/r_i)
    * is a float of INTEGER-product ratios (both engines form the same
    * double) e6-quantized before the order-independent sum — #119's
    * discipline; NMI = MI·10⁶ div min(H) as a final integer quotient.
    * One alphabet-bounded contingency aggregate; margins are rollups
    * of it; no windows, no sort.
    */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val cont = Tables
      .documents(spark, dir)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("c_ij"))
    val byLang = cont.groupBy("lang").agg(sum("c_ij").as("r_i"))
    val bySrc = cont.groupBy("source").agg(sum("c_ij").as("c_j"))
    val total = cont.agg(sum("c_ij").as("n_docs"))
    val miTerm = (col("c_ij").cast("double") / col("n_docs")) * log2(
      (col("c_ij").cast("double") * col("n_docs").cast("double")) /
        (col("r_i").cast("double") * col("c_j").cast("double")))
    val cells = cont
      .join(broadcast(byLang), "lang")
      .join(broadcast(bySrc), "source")
      .crossJoin(broadcast(total))
      .withColumn("mi_term_e6", floor(miTerm * lit(1e6) + lit(0.5)).cast("long"))
      .agg(
        count(lit(1)).as("n_cells"),
        first("n_docs").as("n_docs"),
        sum("mi_term_e6").as("mi_e6"))
    def entropy(margin: DataFrame, cnt: String): DataFrame =
      margin
        .crossJoin(broadcast(total))
        .withColumn(
          "h_term_e6",
          floor(
            (col(cnt).cast("double") / col("n_docs")) *
              log2(col("n_docs").cast("double") / col(cnt).cast("double")) *
              lit(1e6) + lit(0.5)).cast("long"))
        .agg(count(lit(1)).as(s"n_$cnt"), sum("h_term_e6").as(s"h_$cnt"))
    cells
      .crossJoin(broadcast(entropy(byLang, "r_i")))
      .crossJoin(broadcast(entropy(bySrc, "c_j")))
      .select(
        col("n_docs"),
        col("n_r_i").as("n_langs"),
        col("n_c_j").as("n_sources"),
        col("n_cells"),
        col("mi_e6"),
        col("h_r_i").as("h_lang_e6"),
        col("h_c_j").as("h_source_e6"),
        expr("""CASE WHEN least(h_r_i, h_c_j) > 0 THEN
                  CAST((CASE WHEN mi_e6 < 0 THEN -1 ELSE 1 END)
                    * (abs(CAST(mi_e6 AS DECIMAL(38,0))) * 1000000
                       div least(h_r_i, h_c_j)) AS BIGINT)
                ELSE NULL END""").as("nmi_e6"))
  }

  /** #321 Cohen's kappa of the language-ID heuristic: chance-corrected
    * agreement between #66's predicted language and the ground-truth
    * label, computed over #107's confusion matrix — the one-number
    * classifier scorecard that raw accuracy overstates whenever one
    * class dominates (a majority-class guesser scores high accuracy
    * but κ ≈ 0). ENTIRELY integer — no floats anywhere: with
    * D = Σ diagonal, E = Σ_l row_l·col_l and N docs,
    * κ = (N·D − E)/(N² − E) is one sign-factored e6 quotient through
    * DECIMAL(38,0)↔HUGEINT; observed/expected agreement ship as e6
    * quotients beside it. One |langs|²-bounded aggregate over the
    * shared lang-id frame; no windows, no sort.
    */
  def langKappa(spark: SparkSession, dir: String): DataFrame = {
    val conf = TextOps
      .langConfusion(spark, dir)
      .select(col("label_lang"), col("pred_lang"), col("n_docs"))
    val rowM = conf.groupBy("label_lang").agg(sum("n_docs").as("r"))
    val colM = conf.groupBy("pred_lang").agg(sum("n_docs").as("c"))
    val e = rowM
      .join(colM, col("label_lang") === col("pred_lang"))
      .agg(
        coalesce(sum(expr("CAST(r AS DECIMAL(38,0)) * c")), expr("CAST(0 AS DECIMAL(38,0))"))
          .as("e_sum"))
    val d = conf
      .filter(col("label_lang") === col("pred_lang"))
      .agg(coalesce(sum("n_docs"), lit(0L)).as("diag"))
    val n = conf.agg(sum("n_docs").as("n_docs"), count(lit(1)).as("n_cells"))
    n.crossJoin(broadcast(d))
      .crossJoin(broadcast(e))
      .select(
        col("n_docs"),
        col("n_cells"),
        col("diag").as("n_agree"),
        expr("CAST(CAST(diag AS DECIMAL(38,0)) * 1000000 div n_docs AS BIGINT)")
          .as("po_e6"),
        expr("""CAST(e_sum * 1000000 div (CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)""")
          .as("pe_e6"),
        expr("""CASE WHEN CAST(n_docs AS DECIMAL(38,0)) * n_docs - e_sum > 0 THEN
                  CAST(CASE WHEN CAST(n_docs AS DECIMAL(38,0)) * diag - e_sum < 0
                         THEN -1 ELSE 1 END
                    * (abs(CAST(n_docs AS DECIMAL(38,0)) * diag - e_sum) * 1000000
                       div (CAST(n_docs AS DECIMAL(38,0)) * n_docs - e_sum)) AS BIGINT)
                ELSE NULL END""").as("kappa_e6"))
  }

  /** #328 Term burstiness (Church & Gale 1995): for the top-df terms,
    * the variance-to-mean ratio of per-document counts over ALL docs
    * (zeros included) — the content-vs-function-word separator: a
    * Poisson-scattered term has VMR ≈ 1, a bursty topical term
    * clusters its occurrences (VMR ≫ 1); beside #273's clumping
    * (WITHIN-doc positional clustering) this reads ACROSS-doc
    * clustering, the two axes of the classic term-weighting
    * literature. Exact: VMR = (N·Σc² − S²)/(N·S) as one truncating
    * e6 DECIMAL(38,0)↔HUGEINT quotient (population variance over N
    * with the zero docs contributing only to N — no zero rows are
    * materialized, the at-scale trick). Top-k by (df desc, term)
    * total order via orderBy+limit; one (term, doc) aggregate +
    * vocab rollup.
    */
  def termBurstiness(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val perDoc = Tables
      .documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .groupBy("w", "doc_id")
      .agg(count(lit(1)).as("c"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    perDoc
      .groupBy("w")
      .agg(
        count(lit(1)).as("df"),
        sum("c").as("total_count"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("q"))
      .crossJoin(broadcast(nDocs))
      .select(
        col("w").as("term"),
        col("n_docs"),
        col("df"),
        col("total_count"),
        expr("""CAST((CAST(n_docs AS DECIMAL(38,0)) * q
                      - CAST(total_count AS DECIMAL(38,0)) * total_count) * 1000000
                 div (CAST(n_docs AS DECIMAL(38,0)) * total_count) AS BIGINT)""")
          .as("vmr_e6"))
      .orderBy(col("df").desc, col("term"))
      .limit(topK)
  }

  /** #329 Bigram conditional entropy: the plug-in language-model
    * estimate Ĥ(w₂|w₁) = Ĥ(bigram) − Ĥ(unigram) in bits — how
    * predictable the next token is given the current one, the
    * sequence-structure number beside #204's Zipf slope (marginal
    * shape) and #272's Heaps curve (vocabulary growth): natural text
    * sits well below its unigram entropy (conditioning helps), a
    * random-word corpus barely moves. Both entropies are per-term
    * floats of INTEGER ratios e6-quantized before the
    * order-independent sum (#119/#313's discipline); the subtraction
    * is then exact on the published grid. #30's shared tokenizer and
    * #160's bigram construction; two linear aggregates + vocab-sized
    * rollups, no windows.
    */
  def condEntropy(spark: SparkSession, dir: String): DataFrame = {
    val t = col("tok")
    val docs = Tables.documents(spark, dir).withColumn("tok", toks(col("text")))
    val uni = docs
      .select(explode(t).as("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("c"))
    val bi = docs
      .select(
        explode(
          when(size(t) < 2, array().cast("array<string>"))
            .otherwise(
              transform(
                sequence(lit(1), size(t) - 1),
                i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))).as("g"))
      .groupBy("g")
      .agg(count(lit(1)).as("c"))
    def entropy(m: DataFrame, nName: String, kName: String, hName: String): DataFrame = {
      val tot = m.agg(sum("c").as("n"))
      m.crossJoin(broadcast(tot))
        .withColumn(
          "term_e6",
          floor(
            (col("c").cast("double") / col("n")) *
              log2(col("n").cast("double") / col("c").cast("double")) *
              lit(1e6) + lit(0.5)).cast("long"))
        .groupBy(col("n").as(nName))
        .agg(count(lit(1)).as(kName), sum("term_e6").as(hName))
    }
    entropy(uni, "n_tokens", "vocab", "h_unigram_e6")
      .crossJoin(broadcast(entropy(bi, "n_bigrams", "distinct_bigrams", "h_bigram_e6")))
      .withColumn("h_cond_e6", col("h_bigram_e6") - col("h_unigram_e6"))
  }

  /** #148 KMV (k-minimum-values / theta) overlap sketch: cross-corpus
    * distinct-cardinality and Jaccard estimates from two k-row
    * sketches — "how much does corpus B overlap corpus A" WITHOUT
    * materializing either distinct set at the comparison site, the
    * at-scale form of the #68 contamination question (there: exact
    * membership; here: a 64-row summary per corpus that ships
    * anywhere). Sketch = the k smallest distinct shingle hashes
    * (TakeOrdered — no global sort); estimator: distinct(A) is
    * approximately (k-1)·H/theta_A for hash space H = 2^60 and theta = k-th min;
    * Jaccard is approximately rho/k over the union sketch (Beyer et al. 2007 /
    * theta-sketch intersection). Every step — md5-parity hash60, k-th
    * min, integer-division estimators, membership counts — is integer
    * arithmetic, so the DuckDB oracle replays the ESTIMATES
    * bit-exactly alongside the exact values they approximate
    * (`TextStatsSpec` asserts the KMV error bounds hold).
    */
  def kmvOverlap(spark: SparkSession, dir: String, k: Int = 64): DataFrame =
    Lineage.checkpointReleasing(spark) { implicit scope =>
    graft.functions.GraftFunctions.register(spark)
    val e = Tables
      .documents(spark, dir)
      .withColumn("tok", Dedup.toks(col("text")))
      .select(
        col("doc_id"),
        explode(array_distinct(transform(Dedup.shingles(col("tok")), s => Dedup.hash60(s))))
          .as("h"))
    // lazy localCheckpoint: each distinct shingle-hash side feeds FOUR
    // consumers (its k-min sketch, the union sketch, the exact counts,
    // and the semi-joins) — without the cut the tokenize+shingle+
    // explode scan re-executes ~6×, which is the whole query cost
    // (the Dedup.scala semDedup pattern; blocks swept on exit by the
    // checkpointReleasing wrapper)
    val a = e.filter(col("doc_id") % 97 =!= 0).select("h").distinct().cp(false)
    val b = e.filter(col("doc_id") % 97 === 0).select("h").distinct().cp(false)
    def kmv(s: DataFrame) = s.orderBy("h").limit(k)
    val u = a.unionAll(b).distinct()
    val kmvU = kmv(u)
    val row = kmv(a)
      .agg(max("h").as("theta_a"))
      .crossJoin(kmv(b).agg(max("h").as("theta_b")))
      .crossJoin(
        kmvU
          .join(a, Seq("h"), "left_semi")
          .join(b, Seq("h"), "left_semi")
          .agg(count(lit(1)).as("rho")))
      .crossJoin(a.agg(count(lit(1)).as("exact_distinct_a")))
      .crossJoin(b.agg(count(lit(1)).as("exact_distinct_b")))
      .crossJoin(a.join(b, Seq("h"), "left_semi").agg(count(lit(1)).as("exact_overlap")))
    val out = row.select(
      lit(k.toLong).as("k"),
      col("theta_a"),
      col("theta_b"),
      expr(s"CAST((1152921504606846976 div theta_a) * ${k - 1} AS BIGINT)")
        .as("est_distinct_a"),
      expr(s"CAST((1152921504606846976 div theta_b) * ${k - 1} AS BIGINT)")
        .as("est_distinct_b"),
      col("exact_distinct_a"),
      col("exact_distinct_b"),
      col("rho"),
      expr(s"CAST((rho * 10000) div $k AS BIGINT)").as("jaccard_est_bp"),
      col("exact_overlap"),
      expr("CAST((exact_overlap * 10000) div (exact_distinct_a + exact_distinct_b - exact_overlap) AS BIGINT)")
        .as("jaccard_exact_bp"))
    (out, Seq.empty)
  }

  /** #181 Shingle-novelty scoring: per document, the fraction of its
    * distinct 3-shingles that appear NOWHERE else in the corpus
    * (df = 1) — the memorization/diversity signal a pretraining
    * pipeline tracks: near-zero novelty flags boilerplate and near-
    * dups the lexical way (no embeddings), high novelty marks the
    * long-tail documents worth upweighting. The inverse view of the
    * #68 contamination check (there: overlap with a reference set;
    * here: overlap with the REST of the corpus).
    *
    * One shingle explode + one df aggregation + one join back at
    * shingle granularity — shuffle linear in shingle count; the
    * novelty ratio lives on the e6 integer grid (exact cross-engine).
    */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables
      .documents(spark, dir)
      .withColumn("tok", Dedup.toks(col("text")))
      .select(col("doc_id"), explode(array_distinct(Dedup.shingles(col("tok")))).as("s"))
    val df_ = sh.groupBy("s").agg(count(lit(1)).as("df"))
    sh.join(df_, "s")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty_e6", expr("(n_unique * 1000000) div n_shingles"))
  }

  /** #171 Sparse document similarity via inverted-index join: top-k
    * most-similar document pairs by cosine over (df-pruned) 3-token
    * SHINGLE frequency vectors — the sparse complement of the
    * embedding ANN family (#27/#94): no embeddings needed, exact over
    * the lexical vector space, and the workhorse of plagiarism/
    * near-topic mining. Shingles, not unigrams, are the unit: this
    * corpus (like any heavily templated one) has a tiny repeated
    * unigram vocabulary where every term is a stopword, while the
    * shingle space is large and discriminative (max df ≈ 25 here).
    *
    * Scale shape: NEVER doc×doc. Pairs materialize per shingle from
    * its posting list (the #89 basket² pattern) after df pruning caps
    * the list at `maxDf` — fan-out is Σ_t df_t² with df_t ≤ maxDf,
    * linear in vocabulary; df ≤ 1 shingles generate no pairs and are
    * dropped free. Boilerplate shingles above the cap carry near-zero
    * discrimination — pruning them is the standard inverted-index
    * contract (and the oracle applies the same one).
    *
    * Exactness: dot products are integer (tf·tf sums), norms are
    * integer sums; cosine = dot / sqrt(na²·nb²) uses ONE sqrt on an
    * exactly-representable integer product (< 2⁵³) — sqrt is IEEE
    * correctly-rounded, so both engines produce the identical double,
    * rank identically on the raw value, and round only at output.
    */
  def sparseSim(
      spark: SparkSession,
      dir: String,
      maxDf: Int = 100,
      k: Int = 50): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // r13 opt round: fanOut the tokenize/shingle kernel (single-task
    // scan otherwise) and cut tf/kept ONCE — tf fed df_ and kept, kept
    // fed norms and posting, so the scan+shingle pass ran 3-4×.
    // r14: both cuts are EAGER — lazy, their consumers include
    // broadcast-exchange builds that run as concurrent driver-side
    // jobs, and the racing consumers re-executed the tokenize pass
    // anyway (profiler: 64 s of task CPU on a ~25 s kernel).
    val tf = Tables
      .fanOut(Tables.documents(spark, dir))
      .withColumn("tok", Dedup.toks(col("text")))
      .select(col("doc_id"), explode(Dedup.shingles(col("tok"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = true)
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val kept = tf
      .join(df_.filter(col("df") >= 2 && col("df") <= maxDf).select("term"), "term")
      .localCheckpoint(eager = true)
    val norms = kept.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("nrm2"))
    val posting = kept
      .groupBy("term")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("tf")))).as("ps"))
      .repartition(spark.sparkContext.defaultParallelism)
    val pairs = posting
      .select(
        explode(
          expr(
            """flatten(transform(ps, (x, i) ->
                 transform(slice(ps, i + 2, size(ps)),
                   y -> named_struct('doc_a', x.doc_id, 'doc_b', y.doc_id,
                                     'w', x.tf * y.tf))))"""))
          .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"), col("p.w").as("w"))
      .groupBy("doc_a", "doc_b")
      .agg(sum("w").as("dot"), count(lit(1)).as("n_shared"))
    pairs
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm2").as("na2")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm2").as("nb2")), "doc_b")
      .withColumn("cr", col("dot") / sqrt((col("na2") * col("nb2")).cast("double")))
      .orderBy(col("cr").desc, col("doc_a"), col("doc_b"))
      .limit(k)
      .select(
        col("doc_a"),
        col("doc_b"),
        col("n_shared"),
        col("dot"),
        round(col("cr"), 6).as("cosine"))
  }

  /** #169 Batch Misra-Gries MERGE (mergeable summaries): per-shard MG
    * slot tables over document tokens, combined by the Agarwal et al.
    * (PODS'12) merge law — add counters, subtract the (k+1)-th largest
    * combined value, drop non-positive. This is the batch complement
    * of the STREAMING sharded MG (#145): there state lives per shard
    * forever; here each shard ships a ≤k-row summary and a single
    * merge reconstitutes the global heavy hitters — the shape a 1000-
    * executor job actually uses (per-partition sketch, tiny final
    * reduce; the driver never sees more than shards × k counters).
    *
    * Per-shard summary = exact per-shard counts ranked (count desc,
    * term), top k kept, each reduced by the (k+1)-th largest — a valid
    * MG summary of the shard with error ≤ n_shard/(k+1). The merged
    * table preserves the global contract (error ≤ n_total/(k+1), any
    * term with count > n_total/(k+1) survives) — Agarwal's theorem,
    * asserted per row: the driver rows are the exact top-10 terms,
    * each carrying the replayed merged counter, a `guaranteed` flag
    * (support > n/(k+1)) and `mg_ok` — Spark computes the contract
    * check, the oracle emits the constant 1 the theorem demands, so a
    * contract violation is a hash FAIL (the #59/#148 discipline).
    *
    * Scale: one (shard, term) partial-agg pass over the corpus; every
    * rank window is either WindowGroupLimit-bounded (per-shard top-k)
    * or over the ≤ shards·k merged summary — no global data ordering.
    */
  def mgMerge(
      spark: SparkSession,
      dir: String,
      slots: Int = 16,
      nShards: Int = 4): DataFrame = {
    val tok = Tables
      .documents(spark, dir)
      .select((col("doc_id") % nShards).as("shard"), explode(toks(col("text"))).as("term"))
    val perShard = tok.groupBy("shard", "term").agg(count(lit(1)).as("c"))
    val wr = Window.partitionBy("shard").orderBy(col("c").desc, col("term"))
    val ranked = perShard
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= slots + 1)
    val dec = ranked.filter(col("rk") === slots + 1).select(col("shard"), col("c").as("dec"))
    val summ = ranked
      .filter(col("rk") <= slots)
      .join(broadcast(dec), Seq("shard"), "left")
      .withColumn("cnt", col("c") - coalesce(col("dec"), lit(0L)))
      .filter(col("cnt") > 0)
    val merged = summ.groupBy("term").agg(sum("cnt").as("m"))
    // merged summary is ≤ shards·k rows — the global window is bounded
    // by the summary size, never the corpus
    val mr = merged.withColumn("rk", row_number().over(Window.orderBy(col("m").desc, col("term"))))
    val mdec = mr.filter(col("rk") === slots + 1).agg(coalesce(max("m"), lit(0L)).as("mdec"))
    val mergedFinal = mr
      .filter(col("rk") <= slots)
      .crossJoin(broadcast(mdec))
      .withColumn("mg", col("m") - col("mdec"))
      .filter(col("mg") > 0)
      .select(col("term"), col("mg"))
    val exact = tok.groupBy("term").agg(count(lit(1)).as("n_exact"))
    val ntot = tok.agg(count(lit(1)).as("n_total"))
    exact
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("n_exact").desc, col("term"))).cast("long"))
      .filter(col("rank") <= 10)
      .crossJoin(broadcast(ntot))
      .join(mergedFinal, Seq("term"), "left")
      .withColumn("mg_count", coalesce(col("mg"), lit(0L)))
      .select(
        col("rank"),
        col("term"),
        col("n_exact"),
        col("mg_count"),
        (col("n_exact") * (slots + 1) > col("n_total")).cast("int").as("guaranteed"),
        (!(col("n_exact") * (slots + 1) > col("n_total")) ||
          (col("mg_count") > 0 &&
            (col("n_exact") - col("mg_count")) * (slots + 1) <= col("n_total")))
          .cast("int")
          .as("mg_ok"))
  }

  /** #190 Two-sample KS drift per source: the Kolmogorov–Smirnov
    * distance between each source's document-LENGTH distribution and
    * the rest of the corpus — the distribution-shape drift alarm
    * beside #119's token-content drift: KL says a source's WORDS
    * moved, KS says its document SHAPE moved (truncation bug, new
    * chunking, boilerplate inflation), and length is the cheapest
    * shape proxy a pipeline has (here the pre-computed `n_chars` —
    * the scan never touches `text`).
    *
    * Exact and all-integer: D = max over x of |F_s(x) − F_rest(x)| is
    * evaluated on the cross-multiplied grid |ca·n_rest − c_rest·n_s|
    * (no float CDFs), maximized per source, and reported as
    * ks_e6 = ⌊D_num·10⁶ / (n_s·n_rest)⌋ with the argmax length
    * (smallest on ties). The evaluation grid is sources × distinct
    * lengths — both BOUNDED domains (lengths ≤ max doc size), so the
    * grid is dimension-sized no matter the corpus row count; the
    * cumulative windows partition BY SOURCE (never a global window),
    * and the cross products run through DECIMAL(38,0) ↔ DuckDB
    * HUGEINT (the #180 discipline — n_s·n_rest·10⁶ passes 2⁶³ well
    * below 100 TB corpus counts).
    */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(col("source"), col("n_chars").as("len"))
    val cont = docs.groupBy("source", "len").agg(count(lit(1)).as("c_sl"))
    val byLen = cont.groupBy("len").agg(sum("c_sl").as("c_l"))
    val bySrc = cont.groupBy("source").agg(sum("c_sl").as("n_s"))
    val total = cont.agg(sum("c_sl").as("n"))
    // Every (source, length) jump point of either CDF: sources ×
    // distinct lengths, missing cells zero-filled.
    val grid = bySrc
      .crossJoin(byLen)
      .join(cont, Seq("source", "len"), "left")
      .na
      .fill(0L, Seq("c_sl"))
    val w = Window.partitionBy("source").orderBy("len")
    val scored = grid
      .withColumn("ca", sum("c_sl").over(w))
      .withColumn("c_all", sum("c_l").over(w))
      .crossJoin(broadcast(total))
      .withColumn("nb", col("n") - col("n_s"))
      .withColumn(
        "num",
        expr("abs(CAST(ca AS DECIMAL(38,0)) * nb - CAST(c_all - ca AS DECIMAL(38,0)) * n_s)"))
    scored
      .withColumn(
        "rk",
        row_number().over(Window.partitionBy("source").orderBy(col("num").desc, col("len"))))
      .filter(col("rk") === 1)
      .select(
        col("source"),
        col("n_s").as("n_docs"),
        expr("CAST((num * 1000000) div (CAST(n_s AS DECIMAL(38,0)) * nb) AS BIGINT)")
          .as("ks_e6"),
        col("len").as("at_len"))
  }

  /** #413 Benjamini–Hochberg FDR screen over the drift battery (the
    * multiple-testing control a monitoring suite needs once it runs a
    * TEST PER SOURCE: at α=0.05 across ~20 sources, one false "this
    * source drifted" page per run is EXPECTED — BH's step-up keeps
    * the false-discovery RATE at α instead): each source's
    * two-sample KS statistic (#190's exact machinery, source vs rest)
    * gets the asymptotic Kolmogorov p-value p = 2Σ(−1)^{k−1}
    * e^{−2k²λ²} (k ≤ 3 — the standard truncation, error < 1e−8 for
    * any λ the reject region cares about; each SIGNED term e6-floored
    * then summed, clamped to [0, 10⁶]), then the step-up: reject
    * source at ascending-p rank i iff i ≤ max{j : p_j·m ≤ j·α_e6} —
    * the threshold compare CROSS-MULTIPLIED so it is exact integer
    * (p_e6·m ≤ j·50000·m/… reduces to p_e6·m ≤ j·α_e6·… both sides
    * BIGINT; α_e6 = 50000). λ² = D²·n_s·n_b/(n_s+n_b) as a double of
    * integer ratios — the established float recipe.
    *
    * Scale: the KS grid is the #190 shape (sources × distinct
    * lengths); everything after lives on the ≤#sources frame — the
    * two global windows there (ascending-p rank, step-up max) are
    * bounded by source count (documented PlanDisciplineSpec entry).
    */
  def bhFdr(spark: SparkSession, dir: String, alphaE6: Long = 50000L): DataFrame = {
    val ks = ksDrift(spark, dir).select(col("source"), col("n_docs"), col("ks_e6"))
    val total = Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
    val m = ks.agg(count(lit(1)).as("m"))
    val withP = ks
      .crossJoin(broadcast(total))
      .withColumn("lam2", expr(
        """(CAST(ks_e6 AS DOUBLE) / 1e6) * (CAST(ks_e6 AS DOUBLE) / 1e6)
           * (CAST(n_docs AS DOUBLE) * (n - n_docs) / n)"""))
      .withColumn("p_e6", expr(
        """greatest(0L, least(1000000L,
             CAST(floor(2 * exp(-2.0 * lam2) * 1e6 + 0.5) AS BIGINT)
           - CAST(floor(2 * exp(-8.0 * lam2) * 1e6 + 0.5) AS BIGINT)
           + CAST(floor(2 * exp(-18.0 * lam2) * 1e6 + 0.5) AS BIGINT)))"""))
    val ranked = withP
      .crossJoin(broadcast(m))
      .withColumn(
        "bh_rank",
        row_number().over(Window.orderBy(col("p_e6"), col("source"))).cast("long"))
      .withColumn("passes", (col("p_e6") * col("m") <= col("bh_rank") * alphaE6).cast("long"))
    ranked
      .withColumn(
        "cutoff",
        max(when(col("passes") === 1, col("bh_rank")).otherwise(0L))
          .over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(
        col("source"),
        col("n_docs"),
        col("ks_e6"),
        col("p_e6"),
        col("bh_rank"),
        (col("bh_rank") <= col("cutoff")).cast("long").as("rejected"))
  }

  /** #197 Hapax-legomena vocabulary health: per source, the size of
    * the within-source vocabulary, how much of it occurs exactly once
    * (hapax) or exactly twice (dis legomena), and the hapax rate —
    * the Zipf-tail health check: natural text runs ~40-60% hapax;
    * heavily-duplicated or templated corpora collapse toward 0, OCR
    * noise inflates it toward 1. A vocabulary-SHAPE signal beside
    * #119 KL (content drift) and #190 KS (length drift).
    *
    * Shape: one explode → (source, term) count → per-source counting
    * aggregate. Shuffle linear in token volume with map-side partial
    * aggregation; vocabulary dimension never materializes on one
    * node. All-integer; rate on the e6 grid.
    */
  def hapax(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("source"), explode(toks(col("text"))).as("term"))
      .groupBy("source", "term")
      .agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("vocab_size"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n_dis"),
        sum("c").as("n_tokens"))
      .select(
        col("source"),
        col("vocab_size"),
        col("n_hapax"),
        col("n_dis"),
        col("n_tokens"),
        expr("(n_hapax * 1000000) div vocab_size").as("hapax_rate_e6"))

  /** #300-family Simpson lexical diversity: per source, Simpson's
    * concentration λ = Σ nᵢ(nᵢ−1) / (N(N−1)) over the term-frequency
    * distribution and its inverse ("effective vocabulary" — how many
    * equally-common terms would produce the same repeat probability).
    * The diversity scalar beside #197's hapax curve and #204's Zipf
    * slope: λ is literally P(two random tokens are the same term),
    * so it reads as repetition at the CORPUS level where #67 reads it
    * per document. Exact: both quotients are single integer divisions
    * through DECIMAL(38,0) ↔ HUGEINT (Σnᵢ(nᵢ−1) crosses 2⁶³ on
    * web-scale sources); tokenization is #30's shared convention.
    * Two linear aggregates, no windows, no sort.
    */
  def simpson(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("source"), explode(toks(col("text"))).as("term"))
      .groupBy("source", "term")
      .agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("vocab_size"),
        sum("c").as("n_tokens"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * (c - 1)")).as("rep"))
      .filter(col("n_tokens") > 1)
      .select(
        col("source"),
        col("vocab_size"),
        col("n_tokens"),
        expr("CAST(rep AS BIGINT)").as("repeat_pairs"),
        expr("""CAST((rep * 1000000000)
                 div (CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1)) AS BIGINT)""")
          .as("simpson_e9"),
        expr("""CASE WHEN rep > 0 THEN
                 CAST((CAST(n_tokens AS DECIMAL(38,0)) * (n_tokens - 1) * 1000) div rep AS BIGINT)
                ELSE NULL END""").as("inv_simpson_e3"))

  /** #218 RAKE keyword extraction: candidate phrases are the maximal
    * stopword-free token runs (gaps-and-islands per doc), every word
    * scores degree/frequency over those phrases (degree = Σ phrase
    * length across its occurrences — RAKE's co-occurrence weight),
    * and a phrase scores the sum of its words — the classic
    * unsupervised keyword extractor (Rose et al. 2010), corpus-wide.
    * All-integer: word scores on the e6 grid (degree·10⁶ div freq),
    * phrase scores exact BIGINT sums; top-10 via distributed
    * TakeOrdered (orderBy+limit — no global window).
    *
    * Shape: one posexplode, per-doc island windows (activity-bounded
    * keys), one word-stats aggregate joined back, one phrase
    * aggregate. Stopword list shared with #31 ([[TextOps.stopwords]]).
    */
  def rake(spark: SparkSession, dir: String, topK: Int = 10): DataFrame = {
    val pos = Tables
      .documents(spark, dir)
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("p", "w")))
      .withColumn("is_stop", col("w").isin(TextOps.stopwords: _*))
    val wd = Window.partitionBy("doc_id").orderBy("p")
    val runs = pos
      .withColumn(
        "run_start",
        when(!col("is_stop") && coalesce(lag("is_stop", 1).over(wd), lit(true)), 1L)
          .otherwise(0L))
      .withColumn(
        "run_id",
        sum("run_start").over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(!col("is_stop"))
    val phrases = runs
      .groupBy("doc_id", "run_id")
      .agg(
        array_join(expr("transform(array_sort(collect_list(struct(p, w))), x -> x.w)"), " ")
          .as("phrase"),
        count(lit(1)).as("len"))
    val wordStats = runs
      .join(phrases.select(col("doc_id"), col("run_id"), col("len")), Seq("doc_id", "run_id"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("len").as("degree"))
      .withColumn("wscore_e6", expr("(degree * 1000000) div freq"))
    // join on the word key — vocabulary is NOT broadcast-small at scale
    val phraseScores = runs
      .join(wordStats.select(col("w"), col("wscore_e6")), Seq("w"))
      .groupBy("doc_id", "run_id")
      .agg(sum("wscore_e6").as("score_e6"))
    phrases
      .join(phraseScores, Seq("doc_id", "run_id"))
      .groupBy("phrase")
      .agg(
        count(lit(1)).as("n_occurrences"),
        min("len").as("n_words"),
        min("score_e6").as("score_e6")) // identical phrases score identically
      .orderBy(col("score_e6").desc, col("phrase"))
      .limit(topK)
  }

  /** #204 Zipf octave-ratio diagnostic: the rank-frequency curve of
    * each source's vocabulary sampled at power-of-two ranks, with the
    * frequency ratio per octave — an ALL-INTEGER Zipf-fit check (an
    * ideal slope −1 law halves frequency per octave → ratio_e6 ≈
    * 500 000; templated corpora run flat, noisy ones fall off a
    * cliff). Sampling at octaves instead of fitting log-log OLS keeps
    * the statistic exact: float log sums over shuffled partitions are
    * order-nondeterministic, integer order statistics are not (the
    * #190 discipline).
    *
    * Per-source ranks use a source-partitioned window (#201's note:
    * a mega-source would get the hierarchical shard treatment);
    * `log2` is exact on powers of two in both engines.
    */
  def zipfOctaves(spark: SparkSession, dir: String): DataFrame = {
    val tc = Tables
      .documents(spark, dir)
      .select(col("source"), explode(toks(col("text"))).as("term"))
      .groupBy("source", "term")
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy(col("c").desc, col("term"))
    val byOct = Window.partitionBy("source").orderBy(col("r"))
    tc.withColumn("r", row_number().over(w))
      .filter(expr("(r & (r - 1)) = 0")) // powers of two, incl. rank 1
      .withColumn("octave", expr("CAST(log2(r) AS BIGINT)"))
      .withColumn("prev_c", lag("c", 1).over(byOct))
      .select(
        col("source"),
        col("octave"),
        col("r").cast("long").as("rank"),
        col("c").as("freq"),
        expr("(c * 1000000) div prev_c").as("octave_ratio_e6"))
  }

  /** #222 Positional-index exact phrase search — the distributed grep:
    * find every occurrence of a multi-token phrase at exact token
    * adjacency, the retrieval primitive behind contamination probes,
    * boilerplate hunting, and quote tracking. Query phrases here are
    * the corpus's own top-`nPhrases` trigrams (count desc, text
    * tiebreak — deterministic), so the operator exercises both halves:
    * n-gram stats pick the queries, the positional index answers them.
    *
    * The classic IR positional-index plan, relationally: token
    * positions (doc_id, p, w) join the tiny broadcast (phrase, idx,
    * word) table on the WORD; every match proposes the phrase start
    * p − idx; a start is a hit iff all `len` distinct idx values
    * arrived (count-distinct per (phrase, doc_id, start) — correct
    * even when a phrase repeats a word, where a plain count
    * over-matches). Out-of-bounds starts can never collect all idx.
    *
    * Scale: positions are one linear explode; the join is
    * broadcast-small on the right (n_phrases × len rows); candidate
    * volume is Σ df(phrase words) — rare-word phrases prune to almost
    * nothing, stopword phrases degrade to the posting-list scan every
    * positional index pays. One shuffle on (phrase, doc, start).
    */
  def phraseSearch(spark: SparkSession, dir: String, nPhrases: Int = 3): DataFrame = {
    val t = col("tok")
    val docs = Tables
      .documents(spark, dir)
      .withColumn("tok", toks(col("text")))
      .select(col("doc_id"), col("tok"))
      .localCheckpoint(eager = false)
    val phrases = docs
      .select(
        explode(
          when(size(t) < 3, array().cast("array<string>"))
            .otherwise(
              transform(
                sequence(lit(1), size(t) - 2),
                i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))))
          .as("phrase"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(Window.orderBy(col("n").desc, col("phrase"))).cast("long"))
      .filter(col("rank") <= nPhrases)
    val phraseWords = phrases
      .select(col("phrase"), posexplode(split(col("phrase"), " ")).as(Seq("idx", "w")))
      .select(col("phrase"), col("idx").cast("long").as("idx"), col("w"))
    val positions = docs.select(col("doc_id"), posexplode(t).as(Seq("p", "w")))
    positions
      .join(broadcast(phraseWords), "w")
      .select(col("phrase"), col("doc_id"), (col("p") - col("idx")).as("start"), col("idx"))
      .groupBy("phrase", "doc_id", "start")
      .agg(count_distinct(col("idx")).as("nw"))
      .filter(col("nw") === 3)
      .groupBy("phrase", "doc_id")
      .agg(count(lit(1)).as("n_hits"), min("start").cast("long").as("first_start"))
      .select(col("phrase"), col("doc_id"), col("n_hits"), col("first_start"))
  }

  /** #272 Heaps-law vocabulary growth: vocabulary size at
    * doubling corpus prefixes (first 2ᵏ docs in doc_id order) — the
    * curve whose exponent says whether a corpus keeps yielding new
    * types as it grows (natural text: V ∝ Nᵝ, β≈0.5) or has
    * SATURATED (β→0, the fixed-vocab regime the sf1 scale audit
    * measured: saturated shingle spaces densify posting lists
    * superlinearly). This operator turns that audit prose into a
    * measured, replayable table — the diagnostic a corpus curator
    * reads before trusting any df-pruned join's cost model.
    *
    * Distributed shape: one pass computes each term's FIRST
    * occurrence (min doc-rank) and each doc's token count; each
    * checkpoint then counts terms with first_rank ≤ 2ᵏ — a
    * (log₂ n)-row broadcast joined against the first-occurrence
    * frame, never a per-prefix rescan. Doc rank uses the dense
    * doc_id order of the corpus (stable, engine-agnostic).
    */
  def heapsCurve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables
      .documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("tok"))
      .localCheckpoint(eager = false)
    val nDocs = docs.count()
    val checkpoints = (Iterator
      .iterate(2L)(_ * 2)
      .takeWhile(_ < nDocs)
      .toSeq :+ nDocs).distinct
    import spark.implicits._
    val cpDf = checkpoints.toDF("n_docs")
    // rank docs by doc_id hierarchically: doc_ids are dense enough
    // that the id itself is NOT the rank (near-dup planting offsets
    // ids), so rank = count of docs with smaller id, via the
    // checkpoint-bounded theta join on the tiny cp frame
    val firstRank = docs
      .select(col("doc_id"), explode(array_distinct(col("tok"))).as("term"))
      .groupBy("term")
      .agg(min("doc_id").as("first_id"))
    // global doc rank built hierarchically (the #232 shard
    // construction): monotone id-range shard + within-shard
    // row_number + a <= nShards-row carry — no global data window
    val ids = docs.select(col("doc_id"))
    val bounds = ids.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    val sharded = ids
      .crossJoin(broadcast(bounds))
      .withColumn("shard", expr("((doc_id - lo) * 8) div (hi - lo + 1)"))
      .localCheckpoint(eager = false)
    val localRn = sharded.withColumn(
      "local_rn",
      row_number().over(Window.partitionBy("shard").orderBy("doc_id")).cast("long"))
    val offs = sharded
      .groupBy("shard")
      .agg(count(lit(1)).as("c"))
      .withColumn(
        "off",
        coalesce(
          sum("c").over(Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("shard"), col("off"))
    val idRank = localRn
      .join(broadcast(offs), "shard")
      .select(col("doc_id"), (col("off") + col("local_rn")).as("rank"))
    val tokens = docs.select(col("doc_id"), size(col("tok")).cast("long").as("n_tok"))
    cpDf
      .join(
        firstRank
          .join(idRank.select(col("doc_id").as("first_id"), col("rank")), "first_id")
          .select(col("rank")),
        col("rank") <= col("n_docs"))
      .groupBy("n_docs")
      .agg(count(lit(1)).as("vocab_size"))
      .join(
        cpDf.join(
            tokens.join(idRank, "doc_id").select(col("rank"), col("n_tok")),
            col("rank") <= col("n_docs"))
          .groupBy("n_docs")
          .agg(sum("n_tok").as("n_tokens")),
        "n_docs")
      .select(col("n_docs"), col("n_tokens"), col("vocab_size"))
  }

  /** #273 Term clumping / Church-Gale burstiness: for the corpus's
    * high-df terms, mean occurrences per CONTAINING document
    * (cf/df on the e6 grid) — content words clump (a doc about a
    * topic repeats its terms), function words spread evenly, so the
    * ratio separates topical vocabulary from glue without any
    * stopword list. The per-term sibling of #260's per-series Fano
    * factor, and the statistic under burstiness-aware language
    * models. One tokenize pass → per-(term, doc) counts → per-term
    * (cf, df) — two map-side-combining aggregations; top-25 by
    * (clump, term) through WindowGroupLimit.
    */
  def termClumping(spark: SparkSession, dir: String, k: Int = 25, minDf: Long = 5): DataFrame = {
    val perDoc = Tables
      .documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("c"))
    perDoc
      .groupBy("term")
      .agg(count(lit(1)).as("df"), sum("c").as("cf"), max("c").as("max_in_doc"))
      .filter(col("df") >= minDf)
      .withColumn("clump_e6", expr("(cf * 1000000) div df"))
      .withColumn(
        "rank",
        row_number()
          .over(Window.orderBy(col("clump_e6").desc, col("term")))
          .cast("long"))
      .filter(col("rank") <= k)
  }

  /** #247 TextRank keyword extraction (Mihalcea & Tarau 2004):
    * PageRank over the word co-occurrence graph — words voted
    * important by being near OTHER important words, the global
    * graph-centrality complement to #218's RAKE (RAKE scores words by
    * local phrase membership; TextRank lets importance FLOW, so a
    * word gains rank from well-connected neighbors it never shares a
    * phrase with). Corpus-level keywords, the cross-document variant.
    *
    * Graph: non-stopword tokens at original positions p < q with
    * q − p ≤ 2 (the standard window-2 co-occurrence), unordered pairs
    * weighted by corpus count — the position self-join fans out ≤ 2
    * rows per token, linear, never tokens². The rank loop is #124's
    * exact all-integer e8 trajectory verbatim (contributions
    * r·w div wout, damped 15/100 + 85·Σ/100, vertices = edge
    * endpoints), 2 unrolled iterations so the DuckDB oracle replays
    * the identical algebra as CTEs; edges are pre-joined with wout,
    * src-partitioned and cached once — rounds shuffle only the rank
    * vector. Top-20 via rank-filtered window (WindowGroupLimit).
    */
  def textRank(spark: SparkSession, dir: String, iters: Int = 2, topK: Int = 20): DataFrame =
    Lineage.checkpointReleasing(spark) { implicit scope =>
    // r14 (the round's broadcast-race family): every shared frame here
    // was a LAZY cut or lazy cache whose consumers include concurrent
    // AQE exchange builds — pos feeds both sides of the cooccurrence
    // self-join (two exchanges materialize in parallel → the tokenize
    // pass ran twice), pc/outW/edges feed the nDf broadcast build and
    // both unrolled iteration joins. Eager cuts end the re-execution;
    // the former repartition(src).cache() on edges is gone for the
    // change-5 reason (a cached plan skips adaptive re-optimization
    // and pinned the session width onto every iteration stage).
    val pos = Tables
      .documents(spark, dir)
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("p", "w")))
      .filter(!col("w").isin(TextOps.stopwords: _*))
      .cp(eager = true)
    val pc = pos
      .alias("a")
      .join(
        pos.alias("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("b.p") > col("a.p") && col("b.p") <= col("a.p") + 2 &&
          col("a.w") =!= col("b.w"))
      .select(
        least(col("a.w"), col("b.w")).as("w_lo"),
        greatest(col("a.w"), col("b.w")).as("w_hi"))
      .groupBy("w_lo", "w_hi")
      .agg(count(lit(1)).as("cw"))
      .cp(eager = true)
    def edges0(p: DataFrame) = p
      .select(col("w_lo").as("src"), col("w_hi").as("dst"), col("cw"))
      .unionAll(p.select(col("w_hi").as("src"), col("w_lo").as("dst"), col("cw")))
    val outW = edges0(pc).groupBy("src").agg(sum("cw").as("wout")).cp(eager = true)
    val edges = edges0(pc).join(outW, "src").cp(eager = true)
    val nDf = outW.agg(count(lit(1)).as("n_nodes"))
    var ranks = outW
      .crossJoin(broadcast(nDf))
      .select(col("src").as("word"), expr("CAST(100000000 div n_nodes AS BIGINT)").as("r"))
    for (_ <- 1 to iters) {
      ranks = edges
        .join(ranks.withColumnRenamed("word", "src"), "src")
        .select(col("dst").as("word"), expr("r * cw div wout").as("c"))
        .groupBy("word")
        .agg(sum("c").as("cs"))
        .crossJoin(broadcast(nDf))
        .select(
          col("word"),
          expr("CAST(15 * 100000000 div (100 * n_nodes) + (85 * cs) div 100 AS BIGINT)").as("r"))
        .cp(false)
    }
    val out = ranks
      .withColumn(
        "rank",
        row_number().over(Window.orderBy(col("r").desc, col("word"))).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("word"), col("r").as("tr_e8"), col("rank"))
    (out, Seq.empty)
  }

  /** #343 Bigram-LM cross-entropy per document: score every doc
    * against the corpus's own add-one-smoothed bigram language model —
    * the predictability rung above #81's unigram surprisal (a doc of
    * common words in IMPOSSIBLE orders looks fine to a unigram LM and
    * lights up here; templated/boilerplate docs score near zero). The
    * LM is self-trained (c₁₂, context counts c₁ = Σ_w₂ c₁₂, vocab V
    * from one distinct), p(w₂|w₁) = (c₁₂+1)/(c₁+V); per-bigram
    * surprisal log₂((c₁+V)/(c₁₂+1)) is a float of INTEGER ratios —
    * both engines form the same double — e6-quantized BEFORE the
    * order-free per-doc sum (#119's discipline), H = Σterm div n
    * (one truncation per doc). Docs under 2 tokens carry no bigram
    * and are excluded by contract. One bigram explode + two
    * vocabulary-keyed joins — linear, no windows.
    */
  def bigramPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val t = col("tok")
    val docBigrams = Tables
      .documents(spark, dir)
      .withColumn("tok", toks(col("text")))
      .filter(size(t) >= 2)
      .select(
        col("doc_id"),
        explode(
          transform(
            sequence(lit(1), size(t) - 1),
            i => struct(element_at(t, i).as("w1"), element_at(t, i + 1).as("w2"))))
          .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .localCheckpoint(eager = false)
    val c12 = docBigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val vocab = Tables
      .documents(spark, dir)
      .select(explode(toks(col("text"))).as("w"))
      .agg(countDistinct("w").as("v"))
    docBigrams
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn(
        "term_e6",
        floor(
          log2((col("c1") + col("v")).cast("double") / (col("c12") + lit(1)).cast("double"))
            * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("term_e6").as("tsum"))
      .select(col("doc_id"), col("n_bigrams"), expr("tsum div n_bigrams").as("h_bits_e6"))
  }

  /** #344 Character-level entropy per document: Shannon entropy of the
    * normalized character distribution in bits — the noise/encoding
    * screen below the token level (mojibake, base64 blobs and
    * hex dumps spike toward log₂|alphabet|; repeated-char padding
    * collapses toward 0 — both invisible to token-level quality
    * scores). Per (doc, char) counts from one char explode;
    * term = cnt·log₂(n/cnt) is a float of integer ratios e6-quantized
    * per character class (#119), H = Σterm div n. Empty docs carry no
    * characters and are excluded by contract. Linear, no windows.
    */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    val chars = Tables
      .documents(spark, dir)
      .select(col("doc_id"), explode(split(Dedup.normText(col("text")), "")).as("ch"))
      .filter(col("ch") =!= "")
    val perChar = chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("cnt"))
    val perDoc = perChar.groupBy("doc_id").agg(sum("cnt").as("n"))
    perChar
      .join(perDoc, "doc_id")
      .withColumn(
        "term_e6",
        floor(
          col("cnt").cast("double") * log2(col("n").cast("double") / col("cnt").cast("double"))
            * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("doc_id")
      .agg(
        max("n").as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum("term_e6").as("tsum"))
      .select(
        col("doc_id"),
        col("n_chars"),
        col("n_distinct_chars"),
        expr("tsum div n_chars").as("h_bits_e6"))
  }

  /** #472 Kneser–Ney bigram cross-entropy (Kneser & Ney 1995,
    * absolute discount D = 0.75 — the interpolated form modern n-gram
    * LMs standardize on): P(w₂|w₁) = (c₁₂−D)/c₁ + (D·N₁₊(w₁·)/c₁) ·
    * N₁₊(·w₂)/B, where the continuation probability asks "how many
    * contexts does w₂ follow" rather than "how often does w₂ occur" —
    * the fix for high-frequency-but-single-context words that plain
    * backoff over-weights. Reported as corpus cross-entropies (nats,
    * e9 grid) for KN vs the per-bigram MLE; MLE is the in-sample
    * optimum, so H_KN ≥ H_MLE and the GAP is the price of the
    * smoothing mass reserved for unseen continuations — what you pay
    * in-sample to not be infinitely surprised out-of-sample.
    *
    * Exactness: every count (c₁₂, c₁, successor/predecessor type
    * counts, B, N) is an exact integer; each distinct bigram's −ln P
    * is ONE fixed scalar double chain rounded onto the e9 integer
    * grid BEFORE the instance-weighted sum (sums of raw doubles are
    * order-dependent; e9 integers are not — the #462 discipline).
    * Vocab-bounded joins; one bigram explode is the only row-scale
    * pass.
    */
  def knBigramEntropy(spark: SparkSession, dir: String): DataFrame = {
    val t = col("tok")
    val bi = Tables
      .documents(spark, dir)
      .withColumn("tok", toks(col("text")))
      .select(
        explode(
          when(size(t) < 2, expr("CAST(array() AS array<struct<w1: string, w2: string>>)"))
            .otherwise(
              transform(
                sequence(lit(1), size(t) - 1),
                i =>
                  struct(
                    element_at(t, i).as("w1"),
                    element_at(t, i + 1).as("w2"))))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val byW1 = c12.groupBy("w1").agg(sum("c12").as("c1"), count(lit(1)).as("nsucc"))
    val byW2 = c12.groupBy("w2").agg(count(lit(1)).as("npred"))
    val tot = c12.agg(count(lit(1)).as("bb"), sum("c12").as("nn"))
    c12
      .join(byW1, "w1")
      .join(byW2, "w2")
      .crossJoin(broadcast(tot))
      .selectExpr(
        "c12",
        """CAST(floor((0.0 - ln((CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
              + (0.75 * CAST(nsucc AS DOUBLE) / CAST(c1 AS DOUBLE))
                * (CAST(npred AS DOUBLE) / CAST(bb AS DOUBLE)))) * 1000000000 + 0.5)
           AS BIGINT) AS nll_kn_e9""",
        """CAST(floor((0.0 - ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))) * 1000000000 + 0.5)
           AS BIGINT) AS nll_mle_e9""",
        "bb", "nn")
      .agg(
        max("nn").as("n_bigram_tokens"),
        max("bb").as("n_distinct_bigrams"),
        sum(expr("CAST(c12 AS DECIMAL(38,0)) * nll_kn_e9")).as("skn"),
        sum(expr("CAST(c12 AS DECIMAL(38,0)) * nll_mle_e9")).as("smle"))
      .selectExpr(
        "n_bigram_tokens",
        "n_distinct_bigrams",
        "CAST(skn div n_bigram_tokens AS BIGINT) AS h_kn_e9",
        "CAST(smle div n_bigram_tokens AS BIGINT) AS h_mle_e9",
        "CAST((skn - smle) div n_bigram_tokens AS BIGINT) AS smoothing_cost_e9")
  }

  /** #461 Good–Turing frequency spectrum (Good 1953): count-of-counts
    * N_r over the term-frequency table and the adjusted counts
    * r* = (r+1)·N_{r+1}/N_r for r = 1..10, plus the unseen-mass
    * estimate P₀ = N₁/N — the smoothing calibration every n-gram
    * language model (and #272's Heaps read) starts from: how much
    * probability mass belongs to words the corpus has NEVER seen, and
    * how sharply singleton counts must be discounted. Bench-corpus
    * read: r* < r at the head of the spectrum = the Zipf tail is
    * still growing (consistent with #272).
    *
    * All-integer: the spectrum is two counting aggregates (term →
    * freq → count-of-counts); the adjusted counts, the per-count GT
    * probability p_r = rstar/N and P₀ are integer `div`s on the
    * e6/e9 grids. The spectrum self-join (r ↔ r+1) touches ≤ max-freq
    * rows.
    */
  def goodTuring(spark: SparkSession, dir: String): DataFrame = {
    // over BIGRAM counts (#49's construction verbatim): the unigram
    // vocabulary here is closed (min term freq ≫ 10, no tail), while
    // the bigram table has the genuine N₁/N₂ head GT exists to smooth
    // — exactly the LM-training situation
    val t = col("tok")
    val termFreq = Tables
      .documents(spark, dir)
      .withColumn("tok", toks(col("text")))
      .select(
        explode(
          when(size(t) < 2, array().cast("array<string>"))
            .otherwise(
              transform(
                sequence(lit(1), size(t) - 1),
                i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("r"))
    val spectrum = termFreq.groupBy("r").agg(count(lit(1)).as("n_r"))
    val totals = termFreq.agg(sum("r").as("n_tokens"), count(lit(1)).as("vocab"))
    val n1 = spectrum
      .agg(coalesce(sum(when(col("r") === 1, col("n_r"))), lit(0L)).as("nr1"))
    spectrum
      .alias("a")
      .join(spectrum.alias("b"), col("b.r") === col("a.r") + 1, "left")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(n1))
      .filter(col("a.r") <= 10)
      .select(
        col("a.r").as("r"),
        col("a.n_r").as("n_r"),
        coalesce(col("b.n_r"), lit(0L)).as("n_next"),
        col("n_tokens"),
        col("vocab"),
        col("nr1"))
      .select(
        col("r"),
        col("n_r"),
        col("n_next"),
        col("n_tokens"),
        col("vocab"),
        expr("(r + 1) * n_next * 1000000 div n_r").as("r_star_e6"),
        expr("(r + 1) * n_next * 1000000000 div (n_r * n_tokens)").as("p_r_e9"),
        expr("nr1 * 1000000 div n_tokens").as("p0_e6"))
  }
}
